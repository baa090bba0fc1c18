package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.{CompositeJoin, FieldSelection, Pipes, Sorting, ValueAggregators}

/** Queries driving the operator library (SURVEY.md §2.2, §2.3, §2.4, §2.5,
  * §2.9) — field-selection specs, the ValueAggregator DSL, the composite
  * join expression DSL, key-field sort specs, and the Hadoop-Streaming
  * pipe surface.
  */
object OpsQueries {

  /** FieldSelection spec `"1,0:2-4"` over space-separated document text
    * (`lib/fieldsel/FieldSelectionMapper.java:61`). */
  private def fieldsel(s: SparkSession, d: String): DataFrame =
    FieldSelection.selectFields(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        "text", "1,0:2-4", sep = " ")
      .select(col("doc_id"), col("fs_key"), col("fs_value"))
      .orderBy(col("doc_id"))

  /** ValueAggregator DSL over events keyed by event_type
    * (`lib/aggregate/ValueAggregatorBaseDescriptor.java:36`); includes the
    * capped UniqValueCount (`UniqValueCount.java:74-78`). */
  private def valueAgg(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    e.groupBy(col("event_type")).agg(
        ValueAggregators.compile("LongValueSum", col("user_id")).as("sum_uid"),
        ValueAggregators.compile("LongValueMax", col("user_id")).as("max_uid"),
        ValueAggregators.compile("LongValueMin", col("user_id")).as("min_uid"),
        ValueAggregators.compile("StringValueMax", col("props")).as("max_props"),
        ValueAggregators.compile("UniqValueCount", col("user_id"), cap = 50).as("uniq_uid_capped"))
      .orderBy(col("event_type"))
  }

  /** ValueHistogram report (`lib/aggregate/ValueHistogram.java:38,83`):
    * per event_type, stats over per-user event counts. */
  private def histogram(s: SparkSession, d: String): DataFrame =
    ValueAggregators.valueHistogram(Tables.events(s, d), "event_type", "user_id")
      .orderBy(col("event_type"))

  /** KeyFieldBasedComparator spec `-k2,2 -k1,1r` with sep ' '
    * (`lib/partition/KeyFieldBasedComparator.java:53`). */
  private def keyfieldSort(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val keys = Sorting.keyFieldSortColumns(col("text"), "-k2,2 -k1,1r", sep = " ")
    Sorting.totalSort(docs, keys :+ col("doc_id").asc)
  }

  /** Composite join DSL `inner(cust,supp)` (`lib/join/CompositeInputFormat
    * .java:56`, `InnerJoinRecordReader.java:34`). */
  private def compositeInner(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
      .groupBy(col("c_nationkey").as("nationkey")).agg(count(lit(1)).as("n_cust"))
    val supp = Tables.supplier(s, d)
      .groupBy(col("s_nationkey").as("nationkey")).agg(count(lit(1)).as("n_supp"))
    CompositeJoin.run("inner(cust,supp)", "nationkey",
        Map("cust" -> cust, "supp" -> supp))
      .orderBy(col("nationkey"))
  }

  /** Composite join DSL `override(base,upd)` — rightmost source wins
    * (`lib/join/OverrideRecordReader.java:42,56`). */
  private def compositeOverride(s: SparkSession, d: String): DataFrame = {
    val base = Tables.nation(s, d)
      .select(col("n_nationkey").as("nationkey"), col("n_name").as("v"))
    val upd = Tables.customer(s, d)
      .groupBy(col("c_nationkey").as("nationkey")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 50)
      .select(col("nationkey"), concat(lit("BIG:"), col("cnt")).as("v2"))
    CompositeJoin.run("override(base,upd)", "nationkey",
        Map("base" -> base, "upd" -> upd))
      .orderBy(col("nationkey"))
  }

  /** Hadoop-Streaming wordcount, the canonical pipe job (§2.9 / §3.2):
    * mapper `awk` emits `word\t1` per token, shuffle+sort on the key, and
    * the reducer does its own group-break detection over key-sorted lines
    * — both stages are REAL subprocesses via `Pipes.streamJob`. Parsed
    * back to columns; the oracle is plain SQL wordcount (uppercased so the
    * mapper visibly transformed the data). */
  private def pipeWordcount(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("text"))
    val mapper = Seq("sh", "-c",
      """tr 'a-z' 'A-Z' | awk '{for(i=1;i<=NF;i++) print $i"\t1"}'""")
    val reducer = Seq("awk", "-F", "\t",
      """{ if ($1 != prev && NR > 1) { print prev "\t" sum; sum = 0 }
         | prev = $1; sum += $2 }
         |END { if (NR > 0) print prev "\t" sum }""".stripMargin)
    Pipes.streamJob(docs, mapper, reducer,
        numPartitions = s.conf.get("spark.sql.shuffle.partitions", "32").toInt)
      .select(
        split(col("line"), "\t").getItem(0).as("word"),
        split(col("line"), "\t").getItem(1).cast("long").as("cnt"))
      .orderBy(col("word"))
  }

  /** Python typed-bytes reducer: reads binary (STRING word, LONG n)
    * pairs (tags 7/4, big-endian — `typedbytes/Type.java:27-37`) from
    * stdin, group-break sums over key-sorted input, writes typed-bytes
    * pairs back. A deliberately independent second implementation of the
    * wire format — it would catch a framing bug in [[graft.ops.TypedBytes]]
    * that a JVM-only roundtrip would mirror on both sides. */
  private val pyTbReducer: String =
    """import sys, struct
      |ri, wo = sys.stdin.buffer, sys.stdout.buffer
      |def rv():
      |    t = ri.read(1)
      |    if not t: return None
      |    t = t[0]
      |    if t == 7:
      |        n = struct.unpack('>i', ri.read(4))[0]
      |        return ri.read(n).decode('utf-8')
      |    if t == 4: return struct.unpack('>q', ri.read(8))[0]
      |    if t == 3: return struct.unpack('>i', ri.read(4))[0]
      |    raise SystemExit('bad tag %d' % t)
      |def w(k, v):
      |    kb = k.encode('utf-8')
      |    wo.write(b'\x07' + struct.pack('>i', len(kb)) + kb)
      |    wo.write(b'\x04' + struct.pack('>q', v))
      |prev, s = None, 0
      |while True:
      |    k = rv()
      |    if k is None: break
      |    v = rv()
      |    if prev is not None and k != prev:
      |        w(prev, s); s = 0
      |    prev = k; s += v
      |if prev is not None: w(prev, s)
      |wo.flush()
      |""".stripMargin

  /** typed-bytes streaming wordcount (`-io typedbytes` mode,
    * `STR/PipeMapRed.java` + `typedbytes/TypedBytesInput.java`): binary
    * (STRING, LONG) frames cross the subprocess boundary both ways; the
    * word is routed to one partition (shuffle on key) and key-sorted so
    * the reducer's group-break aggregation is total. */
  private def pipeTypedBytesWc(s: SparkSession, d: String): DataFrame = {
    val words = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("k"))
      .filter(col("k") =!= "")
      .withColumn("v", lit(1L))
    val parts = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val sorted = words.repartition(parts, col("k")).sortWithinPartitions(col("k"))
    Pipes.pipeTypedBytes(sorted, Seq("python3", "-c", pyTbReducer))
      .toDF("word", "cnt")
      .orderBy(col("word"))
  }

  /** Bounded-state per-group top-k ([[graft.ops.TopK]]): top 3 orders
    * per customer by price — O(k) state per group, map-side partial
    * merge, at most k rows per group per map task on the shuffle. The
    * window formulation (the oracle) sorts every customer's whole group. */
  private def topkPerGroup(s: SparkSession, d: String): DataFrame =
    graft.ops.TopK.topKPerGroup(Tables.orders(s, d),
        "o_custkey", "o_totalprice", "o_orderkey", k = 3)
      .orderBy(col("o_custkey"), col("rank"))

  /** CDC merge ([[graft.ops.Merge]]): apply a synthesized change feed
    * (updates, deletes, inserts, two versions with latest-wins) onto the
    * orders snapshot — incremental maintenance without a full rebuild.
    * Money flows through integer cents so both engines aggregate
    * bit-identically. */
  /** Shared synthetic CDC fixture: the orders snapshot plus a
    * two-version change feed (updates, deletes, inserts, version
    * conflicts) — deterministic id-arithmetic so DuckDB mirrors it. */
  private def cdcFixture(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val base = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      Ops.cents(col("o_totalprice")).as("price_cents"))
    val src = Tables.orders(s, d)
    val v1 = src.filter(pmod(col("o_orderkey"), lit(10)) < 3)
      .select(
        when(pmod(col("o_orderkey"), lit(3)) === 2,
          col("o_orderkey") + 60000000L)
          .otherwise(col("o_orderkey")).as("o_orderkey"),
        when(pmod(col("o_orderkey"), lit(3)) === 0, lit("U"))
          .when(pmod(col("o_orderkey"), lit(3)) === 1, lit("D"))
          .otherwise(lit("I")).as("op"),
        col("o_custkey"),
        (Ops.cents(col("o_totalprice")) * 2).as("price_cents"),
        lit(1L).as("version"))
    val v2 = src.filter(pmod(col("o_orderkey"), lit(20)) === 0)
      .select(col("o_orderkey"), lit("U").as("op"), col("o_custkey"),
        (Ops.cents(col("o_totalprice")) * 3).as("price_cents"),
        lit(2L).as("version"))
    (base, v1.unionAll(v2))
  }

  private def mergeUpsert(s: SparkSession, d: String): DataFrame = {
    val (base, changes) = cdcFixture(s, d)
    graft.ops.Merge.applyChanges(base, changes, "o_orderkey",
        "op", "version", Seq("o_custkey", "price_cents"))
      .orderBy(col("o_orderkey"))
  }

  /** SCD2 over the same fixture: the snapshot becomes the version-0
    * history, the feed becomes validity intervals. */
  private def scd2History(s: SparkSession, d: String): DataFrame = {
    val (base, changes) = cdcFixture(s, d)
    val history = base
      .withColumn("valid_from", lit(0L))
      .withColumn("valid_to", lit(null).cast("long"))
    graft.ops.Merge.applyChangesScd2(history, changes, "o_orderkey",
        "op", "version", Seq("o_custkey", "price_cents"))
      .orderBy(col("o_orderkey"), col("valid_from"))
  }

  /** Time travel over the SCD2 history ([[graft.ops.Merge.snapshotAsOf]]):
    * the snapshot as of version 1 — after the v1 changes, before the v2
    * updates. A plain interval filter, so the oracle is the SCD2 oracle
    * wrapped in the same predicate: the time-travel read is exactly as
    * checkable as the history it reads. */
  private def timeTravel(s: SparkSession, d: String): DataFrame =
    graft.ops.Merge.snapshotAsOf(scd2History(s, d), 1L)
      .orderBy(col("o_orderkey"))

  private val scd2HistorySql: String = {
    val cents = Ops.sqlCents("o_totalprice")
    s"""WITH base AS (
       |  SELECT o_orderkey, o_custkey, $cents AS price_cents FROM orders),
       |v1 AS (
       |  SELECT CASE WHEN o_orderkey % 3 = 2 THEN o_orderkey + 60000000
       |    ELSE o_orderkey END AS o_orderkey,
       |    CASE o_orderkey % 3 WHEN 0 THEN 'U' WHEN 1 THEN 'D' ELSE 'I' END AS op,
       |    o_custkey, $cents * 2 AS price_cents, CAST(1 AS BIGINT) AS version
       |  FROM orders WHERE o_orderkey % 10 < 3),
       |v2 AS (
       |  SELECT o_orderkey, 'U' AS op, o_custkey, $cents * 3 AS price_cents,
       |    CAST(2 AS BIGINT) AS version
       |  FROM orders WHERE o_orderkey % 20 = 0),
       |changes AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2),
       |seq AS (
       |  SELECT *, version AS valid_from,
       |    lead(version) OVER (PARTITION BY o_orderkey
       |      ORDER BY version, op) AS valid_to
       |  FROM changes),
       |new_rows AS (
       |  SELECT o_orderkey, o_custkey, price_cents, valid_from, valid_to
       |  FROM seq WHERE op <> 'D'),
       |firstv AS (
       |  SELECT o_orderkey, min(version) AS fv FROM changes GROUP BY 1),
       |current_rows AS (
       |  SELECT b.o_orderkey, b.o_custkey, b.price_cents,
       |    CAST(0 AS BIGINT) AS valid_from, f.fv AS valid_to
       |  FROM base b LEFT JOIN firstv f USING (o_orderkey))
       |SELECT * FROM current_rows UNION ALL SELECT * FROM new_rows
       |ORDER BY o_orderkey, valid_from""".stripMargin
  }

  private val mergeUpsertSql: String = {
    val cents = Ops.sqlCents("o_totalprice")
    s"""WITH base AS (
       |  SELECT o_orderkey, o_custkey, $cents AS price_cents FROM orders),
       |v1 AS (
       |  SELECT CASE WHEN o_orderkey % 3 = 2 THEN o_orderkey + 60000000
       |    ELSE o_orderkey END AS o_orderkey,
       |    CASE o_orderkey % 3 WHEN 0 THEN 'U' WHEN 1 THEN 'D' ELSE 'I' END AS op,
       |    o_custkey, $cents * 2 AS price_cents, 1 AS version
       |  FROM orders WHERE o_orderkey % 10 < 3),
       |v2 AS (
       |  SELECT o_orderkey, 'U' AS op, o_custkey, $cents * 3 AS price_cents,
       |    2 AS version
       |  FROM orders WHERE o_orderkey % 20 = 0),
       |changes AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2),
       |latest AS (SELECT * FROM (
       |  SELECT *, row_number() OVER (PARTITION BY o_orderkey
       |    ORDER BY version DESC, op DESC, o_custkey DESC, price_cents DESC
       |  ) AS rn FROM changes) t WHERE rn = 1)
       |SELECT coalesce(b.o_orderkey, l.o_orderkey) AS o_orderkey,
       |  CASE WHEN l.o_orderkey IS NOT NULL THEN l.o_custkey
       |    ELSE b.o_custkey END AS o_custkey,
       |  CASE WHEN l.o_orderkey IS NOT NULL THEN l.price_cents
       |    ELSE b.price_cents END AS price_cents
       |FROM base b FULL JOIN latest l ON b.o_orderkey = l.o_orderkey
       |WHERE l.op IS NULL OR l.op <> 'D'
       |ORDER BY o_orderkey""".stripMargin
  }

  /** Z-order layout key ([[graft.ops.ZOrder]]): the Morton interleave of
    * two order dimensions — the clustering key that keeps BOTH columns'
    * per-file min/max tight at 100 TB (multi-dimensional data skipping).
    * Emitted as data here so the bit-interleave is oracle-checked term
    * for term; ZOrderSpec pins the actual layout/pruning behavior. */
  /** MapFile point-lookup serving path (reference `IO/MapFile.java:559`
    * `Reader.seek` / `get`): the distributed MapFile is a bucketed+sorted
    * parquet table — the key's hash names the ONE bucket file to open
    * (SelectedBucketsCount 1 of 16, pinned in TeraAndOpsSpec) and the
    * within-file sort keeps row-group min/max tight for the seek. The
    * query BENCHES the whole serving story: build the table (the
    * write-once artifact — rebuilt per session because the in-memory
    * catalog forgets it) + one keyed lookup. autoBucketedScan is pinned
    * off session-wide: Spark's auto mode falls back to a regular scan
    * for plans with no join/agg, which silently discards the bucket
    * pruning a lookup-serving session exists for (no other main-code
    * relation is bucketed, so nothing else changes). */
  private def mapfileLookup(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      Ops.cents(col("o_totalprice")).as("price_cents"))
    s.sql("DROP TABLE IF EXISTS graft_mapfile_orders")
    // a previous SESSION's files linger after its in-memory catalog died
    // — clear the managed location or the CREATE collides with them
    val wh = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), "graft_mapfile_orders")
    wh.getFileSystem(s.sparkContext.hadoopConfiguration).delete(wh, true)
    orders.write.bucketBy(16, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("graft_mapfile_orders")
    s.table("graft_mapfile_orders").filter(col("o_orderkey") === 7L)
  }

  private def zorderKey(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_orderkey"),
        pmod(col("o_orderkey"), lit(1024)).as("x"),
        pmod(col("o_custkey"), lit(1024)).as("y"))
      .withColumn("zkey", graft.ops.ZOrder.zKey(10, col("x"), col("y")))
      .orderBy(col("o_orderkey"))

  /** Runtime bloom semi-join pruning: the 1-nation supplier slice's keys
    * become a bloom filter probed on the lineitem scan BEFORE the join
    * shuffle (graft.ops.BloomJoin — Spark's SPARK-32268 expressions driven
    * natively). No false negatives + the real join afterwards ⇒ result is
    * bit-identical to the unpruned join, hence fully oracle-checkable;
    * BloomJoinSpec pins the plan shape and the pruning factor. */
  private def bloomPruneJoin(s: SparkSession, d: String): DataFrame = {
    val dim = Tables.supplier(s, d).filter(col("s_nationkey") === 3)
      .select(col("s_suppkey"), col("s_name"))
    graft.ops.BloomJoin.prunedEquiJoin(
        Tables.lineitem(s, d), dim, "l_suppkey", "s_suppkey",
        ndv = 100000L, numBits = 1L << 20)
      .groupBy(col("s_suppkey"), col("s_name"))
      .agg(count(lit(1)).as("n_items"),
        (sum(Ops.cents(col("l_extendedprice"))) / 100.0).as("revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** Incremental MV maintenance: the per-customer (count, revenue) view
    * built on 90% of orders, then maintained — never recomputed — through
    * a change feed of inserts (the held-out 10%) and deletes (every 7th
    * base row). The oracle recomputes the final state from scratch; the
    * hash gate demands the maintained view land bit-identically
    * (`ops/MaterializedView.scala`; MvSpec pins arbitrary feed splits).
    * The STREAMING form is the same fold: a readStream feed applied per
    * micro-batch via foreachBatch + applyDelta converges to this exact
    * state under any batch split (MvStreamSpec pins stream ≡ batch, so
    * this oracle certifies the streaming maintainer too); the STORED
    * form is [[mvBucketed]]. */
  private def mvIncremental(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val base = o.filter(col("o_orderkey") % 10 =!= 0)
    val mv = graft.ops.MaterializedView.build(
      base, "o_custkey", Ops.cents(col("o_totalprice")))
    val delta = o.filter(col("o_orderkey") % 10 === 0).withColumn("op", lit("I"))
      .unionByName(base.filter(col("o_orderkey") % 7 === 0).withColumn("op", lit("D")))
    graft.ops.MaterializedView.applyDelta(
        mv, delta, "o_custkey", Ops.cents(col("o_totalprice")), col("op"))
      .select(col("k").as("o_custkey"), col("n").as("n_orders"),
        (col("s") / 100.0).as("total_price"))
      .orderBy(col("o_custkey"))
  }

  /** The STORED form of [[mvIncremental]] — same base, same change feed,
    * but the view lives as a partitioned+bucketed managed table and the
    * refresh is the Δ-sized selective path: partition-pruned shuffle-free
    * merge read, dynamic-overwrite write touching only changed
    * directories (`ops/MaterializedView.scala` bucketed lifecycle;
    * MvBucketedSpec pins the plan shape and the untouched-files
    * invariant). Same recompute oracle as mv_incremental — the driver
    * certifies that the selective storage path changes nothing.
    *
    * Measured at the production CADENCE (round-9 bench-honesty fix): the
    * base build runs once into a content-fingerprinted pristine copy;
    * every call after the first pays only the steady-state Δ-cycle —
    * restore the delta's partitions from pristine, fold the delta — so
    * the bench number tracks refresh cost, not fixture rebuilds. The
    * restore also heals any half-applied previous cycle (same changed
    * set), keeping repeated runs — and the oracle row — deterministic. */
  private def mvBucketed(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    val o = Tables.orders(s, d)
    val base = o.filter(col("o_orderkey") % 10 =!= 0)
    // per-corpus table: the Δ-restore resets only the delta's partitions,
    // which is only sound against THIS corpus's own previous cycle
    val tbl = "graft_mv_bucketed_orders_" +
      new java.io.File(d).getName.replace('.', '_').replace('-', '_')
    val vc = Ops.cents(col("o_totalprice"))
    val delta = o.filter(col("o_orderkey") % 10 === 0).withColumn("op", lit("I"))
      .unionByName(base.filter(col("o_orderkey") % 7 === 0).withColumn("op", lit("D")))
    val dir = graft.llm.IndexStore.indexDir(s, "mv_pristine", s"$d/orders.parquet")
    graft.llm.IndexStore.ensure(s, dir) {
      graft.ops.MaterializedView.savePristine(base, "o_custkey", vc, s"$dir/mv")
    }
    if (!s.catalog.tableExists(tbl)) {
      graft.ops.MaterializedView.seedFromPristine(s, s"$dir/mv", tbl)
      graft.ops.MaterializedView.refreshBucketed(
        s, tbl, delta, "o_custkey", vc, col("op"))
    } else
      // steady state: restore + fold with the feed aggregated once
      graft.ops.MaterializedView.refreshCycle(
        s, tbl, s"$dir/mv", delta, "o_custkey", vc, col("op"))
    s.table(tbl)
      .select(col("k").as("o_custkey"), col("n").as("n_orders"),
        (col("s") / 100.0).as("total_price"))
      .orderBy(col("o_custkey"))
  }

  /** Declarative data-quality audit across the warehouse load
    * (`ops/DataAudit.scala`): five row rules on lineitem in ONE scan
    * (stack-unpivoted codegen'd counters), primary-key uniqueness on
    * orders, and two referential-integrity checks — all exact long
    * counts, so the whole audit report hash-checks. */
  private def dqAudit(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    val rowPart = graft.ops.DataAudit.rowRules(li, Seq(
      "li_flag_domain" -> col("l_returnflag").isInCollection(Seq("A", "N", "R")),
      "li_price_positive" -> (col("l_extendedprice") > 0),
      "li_qty_range" -> col("l_quantity").between(1, 50),
      "li_ship_not_null" -> col("l_shipdate").isNotNull,
      "li_tax_range" -> col("l_tax").between(0, 0.2)))
    val pk = graft.ops.DataAudit.uniqueCheck(o, "orders_pk_unique", Seq("o_orderkey"))
    val fk1 = graft.ops.DataAudit.fkCheck(li, "l_orderkey", "li_fk_orderkey",
      o, "o_orderkey")
    val fk2 = graft.ops.DataAudit.fkCheck(o, "o_custkey", "orders_fk_custkey",
      Tables.customer(s, d), "c_custkey")
    rowPart.unionByName(pk).unionByName(fk1).unionByName(fk2)
      .orderBy(col("rule"))
  }

  private def dqAuditSql: String =
    """SELECT 'li_flag_domain' AS rule,
      |  CAST(sum(CASE WHEN l_returnflag IN ('A','N','R') THEN 0 ELSE 1 END) AS BIGINT) AS n_violations,
      |  count(*) AS n_rows FROM lineitem
      |UNION ALL SELECT 'li_price_positive',
      |  CAST(sum(CASE WHEN l_extendedprice > 0 THEN 0 ELSE 1 END) AS BIGINT), count(*) FROM lineitem
      |UNION ALL SELECT 'li_qty_range',
      |  CAST(sum(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 0 ELSE 1 END) AS BIGINT), count(*) FROM lineitem
      |UNION ALL SELECT 'li_ship_not_null',
      |  CAST(sum(CASE WHEN l_shipdate IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT), count(*) FROM lineitem
      |UNION ALL SELECT 'li_tax_range',
      |  CAST(sum(CASE WHEN l_tax BETWEEN 0 AND 0.2 THEN 0 ELSE 1 END) AS BIGINT), count(*) FROM lineitem
      |UNION ALL SELECT 'orders_pk_unique',
      |  CAST(sum(c - 1) AS BIGINT), CAST(sum(c) AS BIGINT)
      |  FROM (SELECT count(*) AS c FROM orders GROUP BY o_orderkey) t
      |UNION ALL SELECT 'li_fk_orderkey',
      |  CAST(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT), count(*)
      |  FROM lineitem l LEFT JOIN
      |    (SELECT DISTINCT o_orderkey AS k FROM orders) p ON l.l_orderkey = p.k
      |UNION ALL SELECT 'orders_fk_custkey',
      |  CAST(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT), count(*)
      |  FROM orders o LEFT JOIN
      |    (SELECT DISTINCT c_custkey AS k FROM customer) p ON o.o_custkey = p.k
      |ORDER BY rule""".stripMargin

  /** Small-files repair (`ops/Compaction.scala`): damage a copy of
    * customer into 64 tiny files, bin-pack it back, return the full
    * relation — the oracle (source table) certifies the rewrite moved
    * every row untouched; StorageOpsSpec pins the file-count collapse. */
  private def compactFiles(s: SparkSession, d: String): DataFrame = {
    val dir = "/tmp/graft-warehouse/compaction/customer_small"
    Tables.customer(s, d).repartition(64)
      .write.mode("overwrite").parquet(dir)
    graft.ops.Compaction.compactParquet(s, dir, targetBytes = 64L * 1024 * 1024)
    s.read.parquet(dir).orderBy(col("c_custkey"))
  }

  /** Dynamic partition overwrite (`ops/PartitionedWrite.scala`): lay
    * orders out by status, re-derive ONLY the 'O' partition (prices
    * doubled — exact in FP), read the final table. The oracle expresses
    * the expected end state; StorageOpsSpec pins that the other
    * partitions' files were not rewritten. */
  private def partitionOverwrite(s: SparkSession, d: String): DataFrame = {
    val dir = "/tmp/graft-warehouse/partitioned/orders_by_status"
    val o = Tables.orders(s, d)
    graft.ops.PartitionedWrite.writePartitioned(o, dir, Seq("o_orderstatus"))
    val delta = o.filter(col("o_orderstatus") === "O")
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    graft.ops.PartitionedWrite.overwritePartitions(delta, dir, Seq("o_orderstatus"))
    s.read.parquet(dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
      .orderBy(col("o_orderkey"))
  }

  /** Table-level snapshot isolation (`ops/Snapshots.scala`): two append
    * commits, then a PINNED read of version 1 — the result must be the
    * first commit's rows even though the table has moved on, which is
    * exactly what the manifest layer guarantees (SnapshotsSpec pins
    * version stability, file immutability, and pinned-reader safety
    * across replace commits too). */
  private def snapshotRead(s: SparkSession, d: String): DataFrame = {
    val loc = "/tmp/graft-warehouse/snapshots/orders"
    val p = new org.apache.hadoop.fs.Path(loc)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val o = Tables.orders(s, d)
    graft.ops.Snapshots.commitAppend(o.filter(col("o_orderkey") % 3 === 0), loc)
    graft.ops.Snapshots.commitAppend(o.filter(col("o_orderkey") % 3 === 1), loc)
    graft.ops.Snapshots.read(s, loc, version = 1)
      .orderBy(col("o_orderkey"))
  }

  /** The same pinned read through PURE SQL (`sources/v2/SnapshotCatalog
    * .scala`): the table registers under a session catalog and the
    * query is `SELECT … VERSION AS OF 1` — the DSv2 `loadTable(ident,
    * version)` time-travel hook resolving the pinned manifest's explicit
    * file list into Spark's native parquet scan (pushdown and pruning
    * intact, SnapshotCatalogSpec pins both). Driver-certifies that the
    * SQL path reads the SAME rows the API path does. */
  private def snapshotSqlTimeTravel(s: SparkSession, d: String): DataFrame = {
    val root = "/tmp/graft-warehouse/snapcat"
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    s.conf.set("spark.sql.catalog.graft_snap",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap.root", root)
    val o = Tables.orders(s, d)
    graft.ops.Snapshots.commitAppend(
      o.filter(col("o_orderkey") % 3 === 0), s"$root/orders")
    graft.ops.Snapshots.commitAppend(
      o.filter(col("o_orderkey") % 3 === 1), s"$root/orders")
    graft.ops.Snapshots.commitReplace(
      o.filter(col("o_orderstatus") === "F"), s"$root/orders")
    s.sql("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
            |  o_orderdate, o_orderpriority
            |FROM graft_snap.orders VERSION AS OF 2
            |ORDER BY o_orderkey""".stripMargin)
  }

  /** Row-level DELETE through PURE SQL (`sources/v2/SnapshotTable`):
    * `DELETE FROM <catalog>.<table> WHERE …` routes through DSv2
    * `SupportsDelete` into the SAME copy-on-write commit the API path
    * uses — and the carried-file contract survives the SQL route (the
    * in-query guard pins it; SnapshotSqlDmlSpec pins mtimes, the
    * subquery fallback, and conflict detection). */
  private def snapshotSqlDelete(s: SparkSession, d: String): DataFrame = {
    val root = "/tmp/graft-warehouse/snapcat_dml"
    val p = new org.apache.hadoop.fs.Path(s"$root/orders_del")
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    s.conf.set("spark.sql.catalog.graft_snap_dml",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap_dml.root", root)
    val o = Tables.orders(s, d)
    // first commit cannot match the predicate — its files must be carried
    graft.ops.Snapshots.commitAppend(
      o.filter(col("o_orderkey") % 3 === 0 && col("o_orderstatus") =!= "F"),
      s"$root/orders_del")
    val untouched = graft.ops.Snapshots.read(s, s"$root/orders_del")
      .inputFiles.toSet
    graft.ops.Snapshots.commitAppend(
      o.filter(col("o_orderkey") % 3 === 1), s"$root/orders_del")
    s.sql("DELETE FROM graft_snap_dml.orders_del WHERE o_orderstatus = 'F'")
    val after = graft.ops.Snapshots.read(s, s"$root/orders_del").inputFiles.toSet
    require(untouched.subsetOf(after),
      "SQL DELETE rewrote files with no matching rows")
    s.sql("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
            |  o_orderdate, o_orderpriority
            |FROM graft_snap_dml.orders_del ORDER BY o_orderkey""".stripMargin)
  }

  /** Incremental cross-location replication through PURE SQL:
    * `CALL system.replicate(src, dstLoc)` ships only manifest-diff'd
    * files + delete vectors + tip sidecars
    * ([[graft.ops.Replicate.replicate]]) and publishes the same version
    * chain at the replica. The in-query requires pin the DR contract:
    * the second call after one append leaves every previously-copied
    * data file byte-untouched (mtime pin — O(new files), the 100 TB
    * cross-region story), and the oracle certifies replica content ==
    * source content THROUGH the replica's own manifest + DV read path.
    * Reference: `hadoop-tools/hadoop-distcp/.../DistCpSync.java`. */
  private def snapshotSqlReplicate(s: SparkSession, d: String): DataFrame = {
    val root = "/tmp/graft-warehouse/snapcat_dml"
    val src = s"$root/orders_repsrc"
    val dst = s"$root/orders_repdst"
    Seq(src, dst).foreach { l =>
      val p = new org.apache.hadoop.fs.Path(l)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    }
    s.conf.set("spark.sql.catalog.graft_snap_dml",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap_dml.root", root)
    val o = Tables.orders(s, d)
    graft.ops.Snapshots.commitAppend(
      o.filter(col("o_orderkey") % 3 === 0), src)
    // a merge-on-read delete: its VECTOR must replicate, not a rewrite
    graft.ops.Snapshots.commitDeleteMoR(s, src, col("o_orderkey") % 9 === 0)
    graft.ops.Snapshots.setAutoStats(s, src, Seq("o_orderkey"))
    s.sql(s"CALL graft_snap_dml.system.replicate('orders_repsrc', '$dst')")
    def mtimes(): Map[String, Long] = {
      val p = new org.apache.hadoop.fs.Path(s"$dst/data")
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      graft.ops.Snapshots.filesUnder(fs, p)
        .filter(_.getPath.getName.startsWith("part-"))
        .map(st => st.getPath.toString -> st.getModificationTime).toMap
    }
    val firstWave = mtimes()
    require(firstWave.nonEmpty, "first replicate shipped nothing")
    graft.ops.Snapshots.commitAppend(
      o.filter(col("o_orderkey") % 3 === 1), src)
    s.sql(s"CALL graft_snap_dml.system.replicate('orders_repsrc', '$dst')")
    // O(new files): everything the first wave shipped is byte-untouched
    val secondWave = mtimes()
    firstWave.foreach { case (f, m) =>
      require(secondWave.get(f).contains(m),
        s"incremental replicate re-copied an already-shipped file: $f")
    }
    require(graft.ops.Snapshots.latestVersion(s, dst)
      == graft.ops.Snapshots.latestVersion(s, src),
      "replica must carry the source's version chain")
    // the oracle reads the REPLICA (manifest + DV subtraction at dst)
    graft.ops.Snapshots.read(s, dst)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
      .orderBy("o_orderkey")
  }

  /** Replication ships the REFS with the table
    * ([[graft.ops.Replicate.replicate]], extended round 15): a WAP
    * staging branch (fork carry + its own commit) and a tag pin both
    * live at the replica after one `CALL system.replicate` — the
    * in-query requires pin the tag's named time-travel read on the
    * replica and the branch listing; the oracle certifies the branch's
    * CONTENT through the replica's own fork-carried manifest read.
    * Reference: `DistCpSync.java` syncs the whole snapshotted tree,
    * branches included by construction. */
  private def snapshotSqlReplicateRefs(s: SparkSession, d: String): DataFrame = {
    val root = "/tmp/graft-warehouse/snapcat_dml"
    val src = s"$root/orders_refsrc"
    val dst = s"$root/orders_refdst"
    Seq(src, dst).foreach { l =>
      val p = new org.apache.hadoop.fs.Path(l)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    }
    s.conf.set("spark.sql.catalog.graft_snap_dml",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap_dml.root", root)
    val o = Tables.orders(s, d)
    graft.ops.Snapshots.commitAppend(o.filter(col("o_orderkey") % 4 === 0), src)
    graft.ops.Refs.tag(s, src, "seed") // retention pin at v1
    graft.ops.Snapshots.commitAppend(o.filter(col("o_orderkey") % 4 === 1), src)
    // WAP: a staging branch forked at v2 with its own audit-side commit
    graft.ops.Refs.createBranch(s, src, "audit")
    graft.ops.Snapshots.commitAppend(o.filter(col("o_orderkey") % 4 === 2),
      graft.ops.Refs.resolve(s"$src#audit"))
    s.sql(s"CALL graft_snap_dml.system.replicate('orders_refsrc', '$dst')")
    require(graft.ops.Refs.tagVersion(s, dst, "seed").contains(1L),
      "the tag pin must ship with the table")
    // the tag's NAMED time-travel read on the replica = the v1 content
    val tagged = s.sql(
      "SELECT count(*) AS n FROM graft_snap_dml.orders_refdst VERSION AS OF 'seed'")
      .head().getLong(0)
    val expectV1 = o.filter(col("o_orderkey") % 4 === 0).count()
    require(tagged == expectV1,
      s"tag time-travel on the replica read $tagged rows, expected $expectV1")
    // the branch reads on the replica: fork carry (%4 in 0,1) + staged (%4=2)
    s.sql("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
            |  o_orderdate, o_orderpriority
            |FROM graft_snap_dml.`orders_refdst#audit`
            |ORDER BY o_orderkey""".stripMargin)
  }

  /** The ndv sketch sidecar's SPARSE-REGIME EXACTNESS under the hash
    * gate ([[graft.ops.BloomSidecar.attachNdv]] / `ndvCounts`): per-file
    * HLL summaries whose register-union is the literal distinct-key SET
    * while it stays under 2^p/4 keys — so for bounded-cardinality
    * columns the reported table-level ndv IS `count(DISTINCT …)`,
    * certified by DuckDB at any scale factor (the fixture's columns are
    * ≤ 500 distinct by construction, independent of SF). The dense
    * regime's ±1.04/√2^p bound is spec-pinned (BloomSidecarSpec). */
  private def snapshotNdvExact(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = "/tmp/graft-warehouse/snapcat_dml"
    val loc = s"$root/orders_ndv"
    val p = new org.apache.hadoop.fs.Path(loc)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val o = Tables.orders(s, d)
    graft.ops.Snapshots.commitAppend(o.select(
      col("o_orderkey"),
      pmod(col("o_custkey"), lit(500L)).as("ck_mod"),
      col("o_orderpriority"), col("o_orderstatus")).repartition(4), loc)
    graft.ops.BloomSidecar.attachNdv(s, loc, 1L,
      Seq("ck_mod", "o_orderpriority", "o_orderstatus"))
    val ndv = graft.ops.BloomSidecar.ndvCounts(s, loc, 1L,
      graft.ops.Snapshots.versionFiles(s, loc, 1L))
    require(ndv.keySet == Set("ck_mod", "o_orderpriority", "o_orderstatus"),
      s"sidecar must cover all three columns: ${ndv.keySet}")
    ndv.toSeq.sortBy(_._1).toDF("col_name", "ndv")
  }

  /** PERSISTED VIEWS through pure SQL ([[graft.ops.Views]] +
    * [[graft.sources.v2.SnapshotViewSubstitution]]): `CREATE VIEW` over
    * the snapshot catalog stores the text as a versioned metadata
    * object; reads re-parse it in place (late binding). The fixture
    * layers a filtering view, an aggregating view OVER that view with
    * declared column aliases, and an in-query pin that a view wrapping
    * `VERSION AS OF 1` keeps reading version 1 after the base advances —
    * the oracle certifies the nested-view read's content. */
  private def snapshotSqlView(s: SparkSession, d: String): DataFrame = {
    val root = "/tmp/graft-warehouse/snapcat_dml"
    Seq("orders_vw", "v_open", "v_open_by_prio", "v_seed_count").foreach { n =>
      val p = new org.apache.hadoop.fs.Path(s"$root/$n")
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    }
    s.conf.set("spark.sql.catalog.graft_snap_dml",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap_dml.root", root)
    val o = Tables.orders(s, d)
    graft.ops.Snapshots.commitAppend(
      o.filter(col("o_orderkey") % 3 === 0), s"$root/orders_vw") // v1
    s.sql("""CREATE VIEW graft_snap_dml.v_seed_count AS
            |SELECT count(*) AS n
            |FROM graft_snap_dml.orders_vw VERSION AS OF 1""".stripMargin)
    graft.ops.Snapshots.commitAppend(
      o.filter(col("o_orderkey") % 3 === 1), s"$root/orders_vw") // v2
    // the pin is IN the view text: v1's count survives the append
    val pinned = s.sql("SELECT n FROM graft_snap_dml.v_seed_count")
      .head().getLong(0)
    val expectV1 = o.filter(col("o_orderkey") % 3 === 0).count()
    require(pinned == expectV1,
      s"view over VERSION AS OF 1 read $pinned rows, expected $expectV1")
    s.sql("""CREATE VIEW graft_snap_dml.v_open AS
            |SELECT o_orderkey, o_orderpriority, o_totalprice
            |FROM graft_snap_dml.orders_vw
            |WHERE o_orderstatus = 'O'""".stripMargin)
    s.sql("""CREATE OR REPLACE VIEW graft_snap_dml.v_open_by_prio
            |  (prio, n_open, max_price) AS
            |SELECT o_orderpriority, count(*),
            |  CAST(round(max(o_totalprice) * 100) AS BIGINT)
            |FROM graft_snap_dml.v_open GROUP BY o_orderpriority""".stripMargin)
    s.sql("""SELECT prio, n_open, max_price
            |FROM graft_snap_dml.v_open_by_prio
            |ORDER BY prio""".stripMargin)
  }

  /** Catalog-level MATERIALIZED VIEW maintained INCREMENTALLY from the
    * base's change feed ([[graft.ops.Mv]], `CALL system.create_mv` /
    * `refresh_mv`): the base takes two appends and a row-level DELETE
    * after the MV is built, each refresh folds ONLY the delta (one
    * partial-agg shuffle over the feed + an MV-sized merge — the base is
    * never re-read), and the DuckDB oracle recomputes the aggregate from
    * scratch: the hash gate IS the incremental-==-recompute theorem on
    * real data. In-query pins: each refresh reports the exact cursor
    * interval it folded, and a third refresh with nothing new is a
    * publish-free no-op. Reference contrast: MR job chains re-run the
    * whole aggregate job on base+delta (SURVEY.md §2.3). */
  private def snapshotSqlMvIncremental(s: SparkSession, d: String): DataFrame = {
    val root = "/tmp/graft-warehouse/snapcat_dml"
    Seq("docs_mvbase", "docs_mv").foreach { n =>
      val p = new org.apache.hadoop.fs.Path(s"$root/$n")
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    }
    s.conf.set("spark.sql.catalog.graft_snap_dml",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap_dml.root", root)
    val docs = Tables.documents(s, d)
    graft.ops.Snapshots.commitAppend(
      docs.filter(col("doc_id") % 3 === 0), s"$root/docs_mvbase") // v1
    s.sql("""CALL graft_snap_dml.system.create_mv(
            |  'docs_mv', 'docs_mvbase', 'lang,source', 'n_chars')""".stripMargin)
    graft.ops.Snapshots.commitAppend(
      docs.filter(col("doc_id") % 3 === 1), s"$root/docs_mvbase") // v2
    s.sql("DELETE FROM graft_snap_dml.docs_mvbase WHERE n_chars < 200") // v3
    val r1 = s.sql("CALL graft_snap_dml.system.refresh_mv('docs_mv')").head()
    require(r1.getLong(1) == 1L && r1.getLong(2) == 3L,
      s"first refresh must fold base (1, 3], reported $r1")
    graft.ops.Snapshots.commitAppend(
      docs.filter(col("doc_id") % 3 === 2), s"$root/docs_mvbase") // v4
    val r2 = s.sql("CALL graft_snap_dml.system.refresh_mv('docs_mv')").head()
    require(r2.getLong(1) == 3L && r2.getLong(2) == 4L,
      s"second refresh must fold base (3, 4], reported $r2")
    val r3 = s.sql("CALL graft_snap_dml.system.refresh_mv('docs_mv')").head()
    require(r3.getLong(0) == r2.getLong(0) && r3.getLong(3) == 0L,
      s"refresh at the tip must publish nothing, reported $r3")
    s.sql("""SELECT lang, source, n, s_n_chars, c_n_chars
            |FROM graft_snap_dml.docs_mv
            |ORDER BY lang, source""".stripMargin)
  }

  /** TRANSPARENT MV routing under the oracle
    * ([[graft.sources.v2.MvRewrite]]): the user's aggregate SQL over the
    * BASE table is served from the materialized view — in-query require
    * proves the plan reads the MV's files — while the DuckDB oracle
    * recomputes from the raw rows: the hash gate certifies the routed
    * plan returns exactly the recompute. The staleness contract is
    * pinned in-query too: after an unrefreshed append the SAME SQL reads
    * the base (fresh rows visible, rewrite backed off), and a refresh
    * routes it again. At 100 TB this is the dashboard query served from
    * an MV-sized scan with the user changing nothing. */
  private def snapshotSqlMvRewrite(s: SparkSession, d: String): DataFrame = {
    val root = "/tmp/graft-warehouse/snapcat_dml"
    Seq("docs_rwbase", "docs_rw").foreach { n =>
      val p = new org.apache.hadoop.fs.Path(s"$root/$n")
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    }
    s.conf.set("spark.sql.catalog.graft_snap_dml",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap_dml.root", root)
    val docs = Tables.documents(s, d)
    graft.ops.Snapshots.commitAppend(
      docs.filter(col("doc_id") % 2 === 0), s"$root/docs_rwbase") // v1
    s.sql("""CALL graft_snap_dml.system.create_mv(
            |  'docs_rw', 'docs_rwbase', 'lang', 'n_chars')""".stripMargin)
    def q() = s.sql(
      """SELECT lang, count(*) AS n_docs,
        |  sum(n_chars) AS sum_chars, count(n_chars) AS nn_chars
        |FROM graft_snap_dml.docs_rwbase
        |GROUP BY lang ORDER BY lang""".stripMargin)
    // the routed relation's ident is "mv:<loc>@v<tip>" (inputFiles
    // can't see through the custom DSv2 scan, so the plan is the proof)
    def routed(df: DataFrame) = df.queryExecution.optimizedPlan.toString
      .contains(s"mv:$root/docs_rw@")
    require(routed(q()), "a fresh MV must serve the aggregate")
    graft.ops.Snapshots.commitAppend(
      docs.filter(col("doc_id") % 2 === 1), s"$root/docs_rwbase") // v2
    require(!routed(q()), "a stale MV must never serve")
    s.sql("CALL graft_snap_dml.system.refresh_mv('docs_rw')")
    val fin = q()
    require(routed(fin), "the refreshed MV must serve again")
    fin
  }

  /** RANGE retention through PURE SQL: `DELETE FROM t WHERE ts < cutoff`
    * takes the sidecar-classified path ([[graft.ops.Snapshots.commitDeleteRange]])
    * — files whose [min, max] sits wholly under the cutoff DROP from the
    * manifest as pure metadata (zero data I/O), wholly-above files carry
    * BY REFERENCE, and only the straddler rewrites. The daily "expire
    * data older than N days" a 100 TB table runs: time-sliced ingest
    * makes almost every file classify, so the verb costs O(straddling
    * files) ≈ O(1). In-query requires pin both classifications; the
    * ghost-file and DV/layout-carry pins live in SnapshotSqlDmlSpec.
    * Reference analog: partition-directory retention via path-by-value
    * outputs (`CORE/mapred/lib/MultipleTextOutputFormat.java`). */
  private def snapshotSqlRetention(s: SparkSession, d: String): DataFrame = {
    val root = "/tmp/graft-warehouse/snapcat_dml"
    val loc = s"$root/orders_ret"
    val p = new org.apache.hadoop.fs.Path(loc)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    s.conf.set("spark.sql.catalog.graft_snap_dml",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap_dml.root", root)
    val o = Tables.orders(s, d)
    // time-sliced arrival — the ingest pattern retention exploits
    graft.ops.Snapshots.commitAppend(
      o.filter(col("o_orderdate") < "1997-01-01").coalesce(2), loc)
    graft.ops.Snapshots.commitAppend(
      o.filter(col("o_orderdate") >= "1997-01-01" &&
        col("o_orderdate") < "1999-01-01").coalesce(2), loc)
    graft.ops.Snapshots.commitAppend(
      o.filter(col("o_orderdate") >= "1999-01-01").coalesce(2), loc)
    graft.ops.Snapshots.setAutoStats(s, loc, Seq("o_orderdate"))
    val v1Files = graft.ops.Snapshots.versionFiles(s, loc, 1L)
      .map(graft.ops.Snapshots.normPath).toSet
    val v3Only = (graft.ops.Snapshots.versionFiles(s, loc, 3L)
      .map(graft.ops.Snapshots.normPath).toSet
      -- graft.ops.Snapshots.versionFiles(s, loc, 2L)
           .map(graft.ops.Snapshots.normPath).toSet)
    // the cutoff lands INSIDE slice 2's range: slice 1 drops as
    // metadata, slice 3 carries untouched, slice 2 alone rewrites
    s.sql("""DELETE FROM graft_snap_dml.orders_ret
            |WHERE o_orderdate < TIMESTAMP_NTZ '1998-01-01 00:00:00'""".stripMargin)
    val after = graft.ops.Snapshots.versionFiles(s, loc, 4L)
      .map(graft.ops.Snapshots.normPath).toSet
    require(v3Only.subsetOf(after),
      "retention rewrote fully-outside files")
    require(v1Files.intersect(after).isEmpty,
      "fully-covered files must drop from the manifest")
    s.sql("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
            |  o_orderdate, o_orderpriority
            |FROM graft_snap_dml.orders_ret ORDER BY o_orderkey""".stripMargin)
  }

  /** Row-level MERGE through PURE SQL: `MERGE INTO … WHEN MATCHED THEN
    * UPDATE SET * WHEN NOT MATCHED THEN INSERT *` routes through DSv2
    * `SupportsRowLevelOperations` — Spark's group-based rewrite, written
    * back through the native v2 parquet write and published as an exact
    * replace with first-committer-wins conflict detection. Same oracle
    * as the API-path `snapshot_merge_rows`: the driver certifies the two
    * routes agree bit-for-bit. */
  private def snapshotSqlMerge(s: SparkSession, d: String): DataFrame = {
    val root = "/tmp/graft-warehouse/snapcat_dml"
    val p = new org.apache.hadoop.fs.Path(s"$root/orders_mrg")
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    s.conf.set("spark.sql.catalog.graft_snap_dml",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap_dml.root", root)
    val o = Tables.orders(s, d)
    graft.ops.Snapshots.commitAppend(
      o.filter(col("o_orderkey") % 3 === 0), s"$root/orders_mrg")
    o.filter(col("o_orderkey") % 6 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
      .unionByName(o.filter(col("o_orderkey") % 3 === 1))
      .createOrReplaceTempView("graft_sql_merge_src")
    s.sql("""MERGE INTO graft_snap_dml.orders_mrg t
            |USING graft_sql_merge_src src ON t.o_orderkey = src.o_orderkey
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    s.sql("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
            |  o_orderdate, o_orderpriority
            |FROM graft_snap_dml.orders_mrg ORDER BY o_orderkey""".stripMargin)
  }

  /** The snapshot table's MAINTENANCE lifecycle from pure SQL
    * (`sources/v2/SnapshotProcedures.scala`, the DSv2 `CALL` surface):
    * attach zone maps, merge-on-read delete (zero data-file rewrites —
    * guarded), OPTIMIZE (folds the delete vector back into data files —
    * guarded, restoring the native pushdown scan to catalog reads),
    * retention GC, then a plain catalog SELECT of the final state. One
    * query certifies the whole CALL surface against the DuckDB oracle. */
  private def snapshotSqlLifecycle(s: SparkSession, d: String): DataFrame = {
    val root = "/tmp/graft-warehouse/snapcat_dml"
    val loc = s"$root/orders_lc"
    val p = new org.apache.hadoop.fs.Path(loc)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    s.conf.set("spark.sql.catalog.graft_snap_dml",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap_dml.root", root)
    graft.ops.Snapshots.commitAppend(
      Tables.orders(s, d).filter(col("o_orderkey") % 3 === 0), loc)
    s.sql("CALL graft_snap_dml.system.attach_stats('orders_lc', 'o_orderkey')")
    val dataBefore = graft.ops.Snapshots.versionFiles(s, loc, 1L).toSet
    s.sql("CALL graft_snap_dml.system.delete_mor('orders_lc', " +
      "\"o_orderstatus = 'F'\")")
    require(graft.ops.Snapshots.versionFiles(s, loc, 2L).toSet == dataBefore,
      "CALL delete_mor must not rewrite data files")
    require(graft.ops.Snapshots.versionDvs(s, loc, 2L).nonEmpty,
      "CALL delete_mor must have committed a delete vector")
    s.sql("CALL graft_snap_dml.system.optimize('orders_lc')")
    require(graft.ops.Snapshots.versionDvs(
        s, loc, graft.ops.Snapshots.latestVersion(s, loc)).isEmpty,
      "CALL optimize must fold delete vectors")
    s.sql("CALL graft_snap_dml.system.expire('orders_lc', 1)")
    s.sql("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
            |  o_orderdate, o_orderpriority
            |FROM graft_snap_dml.orders_lc ORDER BY o_orderkey""".stripMargin)
  }

  /** ADDITIVE schema evolution on the snapshot format: the second append
    * introduces a column, the manifest's schema header widens, and rows
    * committed before it read the column as NULL — no file rewritten, no
    * footer-merge inference (the header IS the schema). Pinned history
    * keeps its own narrower schema (SnapshotDdlSpec pins that plus the
    * type-change rejection and DML-after-evolution). */
  private def snapshotEvolution(s: SparkSession, d: String): DataFrame = {
    val loc = "/tmp/graft-warehouse/snapshots/orders_evolve"
    val p = new org.apache.hadoop.fs.Path(loc)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val o = Tables.orders(s, d)
    val base = o.select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
    graft.ops.Snapshots.commitAppend(
      base.filter(col("o_orderkey") % 3 === 0), loc)
    graft.ops.Snapshots.commitAppend(
      o.filter(col("o_orderkey") % 3 === 1)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          Ops.cents(col("o_totalprice")).as("price_cents")),
      loc)
    require(graft.ops.Snapshots.read(s, loc, 1).columns.length == 3,
      "pinned pre-evolution version must keep its schema")
    graft.ops.Snapshots.read(s, loc)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("price_cents"))
      .orderBy(col("o_orderkey"))
  }

  /** SQL DDL round trip through the DSv2 catalog: CREATE TABLE publishes
    * an empty schema-bearing v1 (typed reads before the first row),
    * INSERT INTO appends on top, and the final catalog SELECT is what
    * the oracle certifies (SnapshotDdlSpec adds CTAS and DROP TABLE). */
  private def snapshotSqlDdl(s: SparkSession, d: String): DataFrame = {
    val root = "/tmp/graft-warehouse/snapcat_dml"
    val p = new org.apache.hadoop.fs.Path(s"$root/orders_ddl")
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    s.conf.set("spark.sql.catalog.graft_snap_dml",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap_dml.root", root)
    s.sql("""CREATE TABLE graft_snap_dml.orders_ddl
            |  (o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
            |   o_totalprice DOUBLE)""".stripMargin)
    require(s.sql("SELECT * FROM graft_snap_dml.orders_ddl").count() == 0,
      "a CREATEd table must be readable (and empty) before its first row")
    Tables.orders(s, d).filter(col("o_orderkey") % 5 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
      .createOrReplaceTempView("graft_ddl_src")
    s.sql("INSERT INTO graft_snap_dml.orders_ddl SELECT * FROM graft_ddl_src")
    s.sql("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
            |FROM graft_snap_dml.orders_ddl ORDER BY o_orderkey""".stripMargin)
  }

  /** Column DEFAULTs through pure SQL DDL: `ALTER TABLE … ADD COLUMN src
    * STRING DEFAULT 'legacy'` is ONE metadata commit — zero files
    * rewritten (guarded) — after which (a) rows in files that PREDATE
    * the column read the add-time constant (`EXISTS_DEFAULT`: the
    * parquet reader fills missing columns from the schema header's
    * metadata), and (b) an INSERT that omits the column gets the
    * current default (`CURRENT_DEFAULT`, analyzer-filled). At 100 TB
    * this is the no-backfill evolution story: adding a provenance/
    * quality column to a corpus costs O(manifest), not O(corpus), and
    * NOT NULL additions stay sound because the default fills history. */
  private def snapshotSqlDefault(s: SparkSession, d: String): DataFrame = {
    val root = "/tmp/graft-warehouse/snapcat_dml"
    val loc = s"$root/orders_def"
    val p = new org.apache.hadoop.fs.Path(loc)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    s.conf.set("spark.sql.catalog.graft_snap_dml",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap_dml.root", root)
    Tables.orders(s, d).createOrReplaceTempView("orders_src_def")
    s.sql("""CREATE TABLE graft_snap_dml.orders_def
            |  (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)""".stripMargin)
    s.sql("""INSERT INTO graft_snap_dml.orders_def
            |SELECT o_orderkey, o_custkey, o_totalprice
            |FROM orders_src_def WHERE o_orderkey % 3 = 0""".stripMargin)
    val before = graft.ops.Snapshots.versionFiles(s, loc,
      graft.ops.Snapshots.latestVersion(s, loc)).toSet
    s.sql("""ALTER TABLE graft_snap_dml.orders_def
            |ADD COLUMN source STRING DEFAULT 'legacy'""".stripMargin)
    val after = graft.ops.Snapshots.versionFiles(s, loc,
      graft.ops.Snapshots.latestVersion(s, loc)).toSet
    require(after == before,
      "ADD COLUMN DEFAULT must be a metadata-only commit (no file rewritten)")
    // post-evolution ingest: naming the column, and OMITTING it (the
    // analyzer fills CURRENT_DEFAULT)
    s.sql("""INSERT INTO graft_snap_dml.orders_def
            |SELECT o_orderkey, o_custkey, o_totalprice, 'fresh'
            |FROM orders_src_def WHERE o_orderkey % 3 = 1""".stripMargin)
    s.sql("""INSERT INTO graft_snap_dml.orders_def
            |  (o_orderkey, o_custkey, o_totalprice)
            |SELECT o_orderkey, o_custkey, o_totalprice
            |FROM orders_src_def WHERE o_orderkey % 3 = 2""".stripMargin)
    s.sql("""SELECT o_orderkey, o_custkey, o_totalprice, source
            |FROM graft_snap_dml.orders_def ORDER BY o_orderkey""".stripMargin)
  }

  /** Version-to-version row delta (`Snapshots.diff`): v1 appends a third
    * of orders, v2 appends another third, v3 logically overwrites with
    * the open-status subset of both thirds. diff(1 → 3) must report the
    * second third's open rows as inserts and the first third's closed
    * rows as deletes — rows present in both versions net out through the
    * replace even though every v3 file is new. The file-level pruning
    * claim (an append-shaped diff never opens unchanged files) is pinned
    * in SnapshotsSpec via `inputFiles`. */
  private def snapshotDiff(s: SparkSession, d: String): DataFrame = {
    val loc = "/tmp/graft-warehouse/snapshots/orders_diff"
    val p = new org.apache.hadoop.fs.Path(loc)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val o = Tables.orders(s, d)
    graft.ops.Snapshots.commitAppend(o.filter(col("o_orderkey") % 3 === 0), loc)
    graft.ops.Snapshots.commitAppend(o.filter(col("o_orderkey") % 3 === 1), loc)
    graft.ops.Snapshots.commitReplace(
      o.filter(col("o_orderkey") % 3 <= 1 && col("o_orderstatus") =!= "F"), loc)
    graft.ops.Snapshots.diff(s, loc, fromVersion = 1, toVersion = 3)
      .orderBy(col("change"), col("o_orderkey"))
  }

  /** Compaction-as-a-commit (`Snapshots.commitCompaction`): fragment a
    * third of orders across two 16-file appends, OPTIMIZE into a new
    * version, read the survivor. In-query guards pin the ≥4× file
    * collapse and that the pre-compaction version stays pinned-readable;
    * the oracle certifies row-for-row content through the rewrite. */
  private def snapshotOptimize(s: SparkSession, d: String): DataFrame = {
    val loc = "/tmp/graft-warehouse/snapshots/orders_optimize"
    val p = new org.apache.hadoop.fs.Path(loc)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val o = Tables.orders(s, d)
    graft.ops.Snapshots.commitAppend(
      o.filter(col("o_orderkey") % 6 === 0).repartition(16), loc)
    graft.ops.Snapshots.commitAppend(
      o.filter(col("o_orderkey") % 6 === 3).repartition(16), loc)
    val filesBefore = graft.ops.Snapshots.read(s, loc).inputFiles.length
    graft.ops.Snapshots.commitCompaction(s, loc)
    val out = graft.ops.Snapshots.read(s, loc)
    require(out.inputFiles.length <= filesBefore / 4,
      s"compaction did not collapse files: $filesBefore -> ${out.inputFiles.length}")
    require(graft.ops.Snapshots.read(s, loc, 2).inputFiles.length == filesBefore,
      "pinned pre-compaction version lost its file list")
    out.orderBy(col("o_orderkey"))
  }

  /** Row-level DELETE on the snapshot format (`Snapshots.commitDelete`):
    * copy-on-write — only files containing a matching row are rewritten,
    * everything else is carried by reference (SnapshotsSpec pins carried
    * mtimes), and the pre-delete version stays pinned-readable. The
    * in-query guard asserts the carry actually happened. */
  private def snapshotDeleteRows(s: SparkSession, d: String): DataFrame = {
    val loc = "/tmp/graft-warehouse/snapshots/orders_delete"
    val p = new org.apache.hadoop.fs.Path(loc)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val o = Tables.orders(s, d)
    // range layout on orderkey: the status predicate hits most files, so
    // ALSO append a second commit whose rows can't match — its files must
    // survive the delete untouched
    graft.ops.Snapshots.commitAppend(
      o.filter(col("o_orderkey") % 3 === 0 && col("o_orderstatus") =!= "F"), loc)
    val untouched = graft.ops.Snapshots.read(s, loc).inputFiles.toSet
    graft.ops.Snapshots.commitAppend(
      o.filter(col("o_orderkey") % 3 === 1), loc)
    graft.ops.Snapshots.commitDelete(s, loc, col("o_orderstatus") === "F")
    val after = graft.ops.Snapshots.read(s, loc).inputFiles.toSet
    require(untouched.subsetOf(after),
      "copy-on-write rewrote files with no matching rows")
    graft.ops.Snapshots.read(s, loc).orderBy(col("o_orderkey"))
  }

  /** Merge-on-read DELETE (`Snapshots.commitDeleteMoR`): the delete
    * commits a (file, row-index) DELETE VECTOR and rewrites NOTHING —
    * the frequent-small-delete path every production table format grew
    * (a one-row delete at 100 TB costs one tiny sidecar, not a file
    * rewrite); readers subtract the vector with a broadcast anti-join
    * and compaction folds it back into data files. The in-query guard
    * pins the zero-rewrite contract: every pre-delete data file is still
    * named, byte-identical, by the post-delete manifest (SnapshotDvSpec
    * additionally pins mtimes, stacking, CoW interplay, and GC). */
  private def snapshotDeleteMor(s: SparkSession, d: String): DataFrame = {
    val loc = "/tmp/graft-warehouse/snapshots/orders_delete_mor"
    val p = new org.apache.hadoop.fs.Path(loc)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val o = Tables.orders(s, d)
    graft.ops.Snapshots.commitAppend(o.filter(col("o_orderkey") % 3 === 0), loc)
    val filesBefore = graft.ops.Snapshots.read(s, loc, 1).inputFiles.toSet
    graft.ops.Snapshots.commitDeleteMoR(s, loc, col("o_orderstatus") === "F")
    val filesAfter = graft.ops.Snapshots.versionFiles(s, loc, 2).toSet
    require(filesAfter.map(f => new org.apache.hadoop.fs.Path(f).toUri.getPath)
        == filesBefore.map(f => new org.apache.hadoop.fs.Path(f).toUri.getPath),
      "merge-on-read delete must carry every data file unrewritten")
    graft.ops.Snapshots.read(s, loc)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
      .orderBy(col("o_orderkey"))
  }

  /** O(deleted-from files) delete-vector fold (`CALL system.fold_dvs`):
    * a range-clustered base takes a merge-on-read delete touching only
    * the LOW-range files, then the fold rewrites exactly the files the
    * vectors name and carries every other file by reference
    * (path-identity guarded) — after it the version is DV-free, so
    * reads drop the per-file subtraction. This is the delete_mor
    * lifecycle's missing middle: at 100 TB the GDPR cleanup
    * (delete_mor → fold_dvs) costs O(affected files), never the full
    * rewrite `optimize` pays, and never leaves readers paying the MoR
    * tax forever. */
  private def snapshotFoldDvs(s: SparkSession, d: String): DataFrame = {
    val root = "/tmp/graft-warehouse/snapcat_dml"
    val loc = s"$root/orders_fdv"
    val p = new org.apache.hadoop.fs.Path(loc)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    s.conf.set("spark.sql.catalog.graft_snap_dml",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap_dml.root", root)
    val o = Tables.orders(s, d)
    graft.ops.Snapshots.commitAppend(
      o.repartitionByRange(4, col("o_orderkey")), loc)
    val thr = o.agg(max(col("o_orderkey"))).head.getLong(0) / 4
    s.sql(s"CALL graft_snap_dml.system.delete_mor('orders_fdv', " +
      s"'o_orderkey <= $thr')")
    require(graft.ops.Snapshots.versionDvs(s, loc, 2L).nonEmpty,
      "delete_mor must commit a delete vector")
    val before = graft.ops.Snapshots.versionFiles(s, loc, 2L)
      .map(f => new org.apache.hadoop.fs.Path(f).toUri.getPath).toSet
    val res = s.sql("CALL graft_snap_dml.system.fold_dvs('orders_fdv')")
      .collect()
    require(res.head.getInt(1) == 0, "fold_dvs must leave zero vectors")
    val v = graft.ops.Snapshots.latestVersion(s, loc)
    require(graft.ops.Snapshots.versionDvs(s, loc, v).isEmpty,
      "the folded version must carry no delete vectors")
    val after = graft.ops.Snapshots.versionFiles(s, loc, v)
      .map(f => new org.apache.hadoop.fs.Path(f).toUri.getPath).toSet
    val carried = after.intersect(before)
    require(carried.size >= 2,
      s"fold must carry the untouched high-range files by reference " +
        s"(carried ${carried.size} of ${before.size})")
    require(after.size < before.size + 4,
      "fold must rewrite only the DV-named files")
    s.sql("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
            |  o_orderdate, o_orderpriority
            |FROM graft_snap_dml.orders_fdv ORDER BY o_orderkey""".stripMargin)
  }

  /** Row-level UPDATE as a commit (`Snapshots.commitUpdate`): double the
    * price of open orders; same copy-on-write contract. */
  private def snapshotUpdateRows(s: SparkSession, d: String): DataFrame = {
    val loc = "/tmp/graft-warehouse/snapshots/orders_update"
    val p = new org.apache.hadoop.fs.Path(loc)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    graft.ops.Snapshots.commitAppend(
      Tables.orders(s, d).filter(col("o_orderkey") % 3 === 0), loc)
    graft.ops.Snapshots.commitUpdate(s, loc,
      col("o_orderstatus") === "O",
      Map("o_totalprice" -> (col("o_totalprice") * 2)))
    graft.ops.Snapshots.read(s, loc).orderBy(col("o_orderkey"))
  }

  /** Change data feed (`Snapshots.changeFeed`): every row change since a
    * consumer's checkpointed version, tagged with the commit that
    * introduced it — append, append, row-level delete, read the feed
    * from the beginning. Intermediate states are visible by design. */
  private def snapshotChangeFeed(s: SparkSession, d: String): DataFrame = {
    val loc = "/tmp/graft-warehouse/snapshots/orders_cdf"
    val p = new org.apache.hadoop.fs.Path(loc)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val o = Tables.orders(s, d)
    graft.ops.Snapshots.commitAppend(o.filter(col("o_orderkey") % 3 === 0), loc)
    graft.ops.Snapshots.commitAppend(o.filter(col("o_orderkey") % 3 === 1), loc)
    graft.ops.Snapshots.commitDelete(s, loc, col("o_orderstatus") === "F")
    graft.ops.Snapshots.changeFeed(s, loc, fromVersion = 0)
      .orderBy(col("_commit_version"), col("change"), col("o_orderkey"))
  }

  /** File-level zone-map skipping (`Snapshots.attachStats` /
    * `readPruned`): per-file (min, max) sidecars let the PLANNER drop
    * files driver-side — no footer opened — and the residual filter
    * keeps the answer exact. The in-query guard asserts files were
    * actually skipped; the oracle certifies row-exactness. */
  private def snapshotSkipping(s: SparkSession, d: String): DataFrame = {
    val loc = "/tmp/graft-warehouse/snapshots/orders_zonemap"
    val p = new org.apache.hadoop.fs.Path(loc)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    graft.ops.Snapshots.commitAppend(
      Tables.orders(s, d).repartitionByRange(8, col("o_orderkey")), loc)
    graft.ops.Snapshots.attachStats(s, loc, 1L, Seq("o_orderkey"))
    val pruned = graft.ops.Snapshots.readPruned(
      s, loc, "o_orderkey", "100", "500")
    val total = graft.ops.Snapshots.read(s, loc).inputFiles.length
    require(pruned.inputFiles.length < total,
      s"zone maps skipped nothing: ${pruned.inputFiles.length} of $total")
    pruned.orderBy(col("o_orderkey"))
  }

  /** Zone-map file skipping on the SQL read path
    * (`sources/v2/ZoneMapScan.scala`): the same range query as
    * [[snapshotSkipping]] but typed as plain SQL against the DSv2
    * catalog — the pushed BETWEEN maps through the stats sidecar
    * driver-side and the parquet scan plans ONLY the surviving files
    * (the in-query guard pins the skip; SnapshotCatalogSpec pins
    * planned-files == sidecar survivors and that row-group pushdown
    * still applies below the file skip). The oracle certifies the
    * pruned SQL read returns exactly the plain filtered rows. */
  private def snapshotSqlPruned(s: SparkSession, d: String): DataFrame = {
    val root = "/tmp/graft-warehouse/snapcat_dml"
    val loc = s"$root/orders_zm"
    val p = new org.apache.hadoop.fs.Path(loc)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    s.conf.set("spark.sql.catalog.graft_snap_dml",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap_dml.root", root)
    graft.ops.Snapshots.commitAppend(
      Tables.orders(s, d).repartitionByRange(8, col("o_orderkey")), loc)
    graft.ops.Snapshots.attachStats(s, loc, 1L, Seq("o_orderkey"))
    val df = s.sql(
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderdate, o_orderpriority
        |FROM graft_snap_dml.orders_zm
        |WHERE o_orderkey BETWEEN 100 AND 500
        |ORDER BY o_orderkey""".stripMargin)
    val planned = plannedParquetFiles(df)
    val total = graft.ops.Snapshots.versionFiles(s, loc, 1L).length
    require(planned < total,
      s"SQL zone maps skipped nothing: planned $planned of $total files")
    df
  }

  /** Parquet files the executed plan actually scans — the skip-guard
    * metric every file-pruning fixture asserts on. */
  private def plannedParquetFiles(df: DataFrame): Int =
    df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        (b.scan match {
          case rp: graft.sources.v2.RuntimePrunedScan => rp.delegate
          case s => s
        }) match {
          case pq: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan =>
            pq.fileIndex.inputFiles.length
          case _ => 0
        }
    }.sum

  /** Bloom-sidecar point-lookup skipping (`BloomSidecar.readBloomPruned`)
    * on a HASH layout — the case zone maps cannot prune: every file's
    * [min, max] for o_orderkey spans ~the whole domain (the table is
    * hash-clustered by o_custkey), yet each probed o_orderkey lives in
    * exactly one file, so the per-file Bloom filters plan O(probed keys)
    * files. The guard asserts actual file skipping; the oracle proves the
    * pruned read returns exactly the plain IN-filter rows. */
  private def snapshotBloomPruned(s: SparkSession, d: String): DataFrame = {
    val loc = "/tmp/graft-warehouse/snapshots/orders_bloom"
    val p = new org.apache.hadoop.fs.Path(loc)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    graft.ops.Snapshots.commitAppend(
      Tables.orders(s, d).repartition(8, col("o_custkey")), loc)
    graft.ops.BloomSidecar.attachBlooms(s, loc, 1L, Seq("o_orderkey"))
    val df = graft.ops.BloomSidecar.readBloomPruned(
        s, loc, "o_orderkey", Seq("7", "33", "1234"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
      .orderBy(col("o_orderkey"))
    val total = graft.ops.Snapshots.versionFiles(s, loc, 1L).length
    val planned = df.inputFiles.length
    require(planned < total,
      s"blooms skipped nothing: planned $planned of $total files")
    df
  }

  /** `CALL system.cluster` (`ZOrder.clusterSnapshot`): the
    * OPTIMIZE-ZORDER analog — a round-robin-laid table is re-clustered
    * in Morton order of (o_orderkey, o_custkey) as a versioned replace
    * with the zone-map sidecar refreshed, after which a TWO-column box
    * predicate through the catalog prunes files (each file is tight on
    * BOTH dimensions at once). The guard asserts the box plans fewer
    * files than the table holds; the oracle proves row-exactness. */
  private def snapshotSqlCluster(s: SparkSession, d: String): DataFrame = {
    val root = "/tmp/graft-warehouse/snapcat_dml"
    val loc = s"$root/orders_zc"
    val p = new org.apache.hadoop.fs.Path(loc)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    s.conf.set("spark.sql.catalog.graft_snap_dml",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap_dml.root", root)
    // round-robin layout: neither column is clustered before the CALL
    graft.ops.Snapshots.commitAppend(Tables.orders(s, d).repartition(8), loc)
    s.sql("CALL graft_snap_dml.system.cluster('orders_zc', " +
      "'o_orderkey,o_custkey', 8, 128, 8)")
    val df = s.sql(
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderdate, o_orderpriority
        |FROM graft_snap_dml.orders_zc
        |WHERE o_orderkey BETWEEN 100 AND 500 AND o_custkey BETWEEN 100 AND 200
        |ORDER BY o_orderkey""".stripMargin)
    val planned = plannedParquetFiles(df)
    val total = graft.ops.Snapshots.versionFiles(
      s, loc, graft.ops.Snapshots.latestVersion(s, loc)).length
    require(planned < total,
      s"clustered box skipped nothing: planned $planned of $total files")
    df
  }

  /** Storage-partitioned join ([[graft.ops.BucketLayout]] +
    * `KeyGroupedPartitioning` scan report): both tables re-laid by
    * `CALL system.bucket` on the join key, after which the fact-fact
    * join plans with ZERO Exchange on either side — the Spark-native
    * form of the reference's CompositeInputFormat map-side join over
    * identically partitioned inputs
    * (`lib/join/CompositeInputFormat.java:56`). At 100 TB this removes
    * both full-table shuffles from the most expensive plan a user runs.
    * The in-query guard executes the join with broadcasting disabled and
    * walks the finalized adaptive plan asserting NO shuffle anywhere;
    * the oracle proves row-exactness. */
  private def snapshotSqlSpj(s: SparkSession, d: String): DataFrame = {
    val root = "/tmp/graft-warehouse/snapcat_dml"
    Seq(s"$root/orders_spj", s"$root/lines_spj").foreach { loc =>
      val p = new org.apache.hadoop.fs.Path(loc)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    }
    s.conf.set("spark.sql.catalog.graft_snap_dml",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap_dml.root", root)
    // the two tables' builds are independent — overlap commit+re-layout
    // per table on two driver threads (guide §2.6; Par scaladoc)
    graft.core.Par.pair(
      {
        graft.ops.Snapshots.commitAppend(
          Tables.orders(s, d).repartition(4), s"$root/orders_spj")
        s.sql("CALL graft_snap_dml.system.bucket('orders_spj', 'o_orderkey', 8)")
      },
      {
        graft.ops.Snapshots.commitAppend(
          Tables.lineitem(s, d).repartition(4), s"$root/lines_spj")
        s.sql("CALL graft_snap_dml.system.bucket('lines_spj', 'l_orderkey', 8)")
      })
    val q =
      """SELECT o.o_orderkey, l.l_linenumber, o.o_totalprice, l.l_quantity
        |FROM graft_snap_dml.orders_spj o
        |JOIN graft_snap_dml.lines_spj l ON o.o_orderkey = l.l_orderkey
        |WHERE o.o_orderkey <= 2000""".stripMargin
    requireZeroExchange(s, q, "storage-partitioned join")
    s.sql(q + "\nORDER BY o.o_orderkey, l.l_linenumber")
  }

  /** Layout-preserving ingest (`BucketLayout.appendBucketed`): bucket the
    * fact once, then APPEND two co-clustered batches — the layout header
    * carries, so the join still plans ZERO Exchange with multi-file
    * buckets (the scan groups same-bucket files into one keyed
    * partition). This is the 100 TB continuous-ingest story: per-batch
    * cost O(batch), the fact never re-buckets, and the co-partitioned
    * plan survives. In-query guard requires the post-ingest join plan
    * shuffle-free; the oracle proves exact rows over base + both batches. */
  private def snapshotSqlSpjAppend(s: SparkSession, d: String): DataFrame = {
    val root = "/tmp/graft-warehouse/snapcat_dml"
    Seq(s"$root/orders_spja", s"$root/lines_spja").foreach { loc =>
      val p = new org.apache.hadoop.fs.Path(loc)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    }
    s.conf.set("spark.sql.catalog.graft_snap_dml",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap_dml.root", root)
    val orders = Tables.orders(s, d)
    // per-table build chains are independent — overlap them (guide §2.6);
    // within the orders chain the two ingest batches stay sequential
    // (same table: ordered versions, no CAS contention)
    graft.core.Par.pair(
      {
        graft.ops.Snapshots.commitAppend(
          orders.filter(col("o_orderkey") % 3 === 0).repartition(4),
          s"$root/orders_spja")
        s.sql("CALL graft_snap_dml.system.bucket('orders_spja', 'o_orderkey', 8)")
        // two ingest batches land WITHOUT re-bucketing the table
        graft.ops.BucketLayout.appendBucketed(s, s"$root/orders_spja",
          orders.filter(col("o_orderkey") % 3 === 1))
        graft.ops.BucketLayout.appendBucketed(s, s"$root/orders_spja",
          orders.filter(col("o_orderkey") % 3 === 2))
      },
      {
        graft.ops.Snapshots.commitAppend(
          Tables.lineitem(s, d).repartition(4), s"$root/lines_spja")
        s.sql("CALL graft_snap_dml.system.bucket('lines_spja', 'l_orderkey', 8)")
      })
    val q =
      """SELECT o.o_orderkey, l.l_linenumber, o.o_totalprice, l.l_quantity
        |FROM graft_snap_dml.orders_spja o
        |JOIN graft_snap_dml.lines_spja l ON o.o_orderkey = l.l_orderkey
        |WHERE o.o_orderkey <= 2000""".stripMargin
    requireZeroExchange(s, q, "post-ingest SPJ")
    s.sql(q + "\nORDER BY o.o_orderkey, l.l_linenumber")
  }

  /** PURE-SQL layout-preserving ingest ([[graft.sources.v2
    * .SnapshotWrite]]): bucket the fact once, then `INSERT INTO`
    * it twice through plain SQL — the DSv2 write declares the layout's
    * own `clustered(bucket(n, key))` distribution
    * (`RequiresDistributionAndOrdering`), files land routed, the header
    * carries, and the join STILL plans ZERO Exchange. This closes the
    * last gap between "SPJ exists" and "a SQL-only pipeline keeps it":
    * before, the first plain INSERT honestly dropped the layout and the
    * 100 TB fact lost its shuffle-free join plan to its own ingest.
    * Reference analog: `CompositeInputFormat` kept inputs co-partitioned
    * ACROSS jobs (`lib/join/CompositeInputFormat.java:56`) — no API
    * detour. In-query guard: routed files + carried header + finalized
    * adaptive join plan with no shuffle anywhere; oracle proves exact
    * rows over base + both SQL batches. */
  private def snapshotSqlSpjInsert(s: SparkSession, d: String): DataFrame = {
    val root = "/tmp/graft-warehouse/snapcat_dml"
    Seq(s"$root/orders_spji", s"$root/lines_spji").foreach { loc =>
      val p = new org.apache.hadoop.fs.Path(loc)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    }
    s.conf.set("spark.sql.catalog.graft_snap_dml",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap_dml.root", root)
    val orders = Tables.orders(s, d)
    orders.createOrReplaceTempView("orders_src_spji")
    // per-table build chains are independent — overlap them (guide §2.6)
    graft.core.Par.pair(
      {
        graft.ops.Snapshots.commitAppend(
          orders.filter(col("o_orderkey") % 3 === 0).repartition(4),
          s"$root/orders_spji")
        s.sql("CALL graft_snap_dml.system.bucket('orders_spji', 'o_orderkey', 8)")
        // two ingest batches through PURE SQL — no Scala API anywhere
        s.sql("""INSERT INTO graft_snap_dml.orders_spji
                |SELECT * FROM orders_src_spji WHERE o_orderkey % 3 = 1""".stripMargin)
        s.sql("""INSERT INTO graft_snap_dml.orders_spji
                |SELECT * FROM orders_src_spji WHERE o_orderkey % 3 = 2""".stripMargin)
      },
      {
        graft.ops.Snapshots.commitAppend(
          Tables.lineitem(s, d).repartition(4), s"$root/lines_spji")
        s.sql("CALL graft_snap_dml.system.bucket('lines_spji', 'l_orderkey', 8)")
      })
    val loc = s"$root/orders_spji"
    val v = graft.ops.Snapshots.latestVersion(s, loc)
    require(graft.ops.Snapshots.versionLayout(s, loc, v)
        .contains("bucket,8,o_orderkey"),
      "SQL INSERT must carry the bucket layout header")
    val unrouted = graft.ops.Snapshots.versionFiles(s, loc, v)
      .filterNot(f => graft.ops.BucketLayout.bucketOfPath(f).isDefined)
    require(unrouted.isEmpty, s"SQL INSERT landed unrouted files: $unrouted")
    val q =
      """SELECT o.o_orderkey, l.l_linenumber, o.o_totalprice, l.l_quantity
        |FROM graft_snap_dml.orders_spji o
        |JOIN graft_snap_dml.lines_spji l ON o.o_orderkey = l.l_orderkey
        |WHERE o.o_orderkey <= 2000""".stripMargin
    requireZeroExchange(s, q, "post-SQL-ingest SPJ")
    s.sql(q + "\nORDER BY o.o_orderkey, l.l_linenumber")
  }

  /** Shuffle-free bucket-count scaling (`CALL system.bucket_split`):
    * the fact starts at n=4, splits to n=8 with a per-task local pass —
    * `h mod 8` REFINES `h mod 4`, so no row crosses old-bucket
    * boundaries and the rewrite plans ZERO Exchange (pinned with a
    * shuffle-records listener in SnapshotSpjSpec) — then joins an n=8
    * dim with zero Exchange. At 100 TB this is the escape hatch for
    * "bucket count too small": compaction-class IO instead of the full
    * re-layout shuffle `CALL bucket` pays. */
  private def snapshotSqlBucketSplit(s: SparkSession, d: String): DataFrame = {
    val root = "/tmp/graft-warehouse/snapcat_dml"
    Seq(s"$root/orders_bsp", s"$root/lines_bsp").foreach { loc =>
      val p = new org.apache.hadoop.fs.Path(loc)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    }
    s.conf.set("spark.sql.catalog.graft_snap_dml",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap_dml.root", root)
    // per-table build chains are independent — overlap them (guide §2.6)
    graft.core.Par.pair(
      {
        graft.ops.Snapshots.commitAppend(
          Tables.orders(s, d).repartition(4), s"$root/orders_bsp")
        s.sql("CALL graft_snap_dml.system.bucket('orders_bsp', 'o_orderkey', 4)")
        s.sql("CALL graft_snap_dml.system.bucket_split('orders_bsp', 2)")
      },
      {
        graft.ops.Snapshots.commitAppend(
          Tables.lineitem(s, d).repartition(4), s"$root/lines_bsp")
        s.sql("CALL graft_snap_dml.system.bucket('lines_bsp', 'l_orderkey', 8)")
      })
    require(graft.ops.Snapshots.versionLayout(s, s"$root/orders_bsp", -1L)
        .contains("bucket,8,o_orderkey"), "split must scale the layout header")
    val q =
      """SELECT o.o_orderkey, l.l_linenumber, o.o_totalprice, l.l_quantity
        |FROM graft_snap_dml.orders_bsp o
        |JOIN graft_snap_dml.lines_bsp l ON o.o_orderkey = l.l_orderkey
        |WHERE o.o_orderkey <= 2000""".stripMargin
    requireZeroExchange(s, q, "post-split SPJ")
    s.sql(q + "\nORDER BY o.o_orderkey, l.l_linenumber")
  }

  /** COMPOSITE-key storage-partitioned join: both tables laid out on the
    * two-column key `(l_orderkey, l_linenumber)` — one single-column
    * `bucket(n, c)` transform PER KEY (the only shape Spark's SPJ
    * machinery accepts; files carry the mixed-radix vector id) — and the
    * two-predicate join plans with ZERO Exchange. The reference's join
    * DSL composed arbitrary composite keys (`lib/join/Parser.java`,
    * `TupleWritable.java:298`, the SecondarySort.IntPair idiom); the
    * multi-tenant `(tenant_id, entity_id)` fact is this shape at 100 TB. */
  private def snapshotSqlSpjMulti(s: SparkSession, d: String): DataFrame = {
    val root = "/tmp/graft-warehouse/snapcat_dml"
    Seq(s"$root/lines_spjm", s"$root/rets_spjm").foreach { loc =>
      val p = new org.apache.hadoop.fs.Path(loc)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    }
    s.conf.set("spark.sql.catalog.graft_snap_dml",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap_dml.root", root)
    val lines = Tables.lineitem(s, d)
    // per-table build chains are independent — overlap them (guide §2.6)
    graft.core.Par.pair(
      {
        graft.ops.Snapshots.commitAppend(
          lines.select("l_orderkey", "l_linenumber", "l_quantity").repartition(4),
          s"$root/lines_spjm")
        s.sql("CALL graft_snap_dml.system.bucket('lines_spjm', 'l_orderkey,l_linenumber', 4)")
      },
      {
        graft.ops.Snapshots.commitAppend(
          lines.filter(col("l_returnflag") === "R")
            .select("l_orderkey", "l_linenumber", "l_extendedprice").repartition(4),
          s"$root/rets_spjm")
        s.sql("CALL graft_snap_dml.system.bucket('rets_spjm', 'l_orderkey,l_linenumber', 4)")
      })
    require(graft.ops.Snapshots.versionLayout(s, s"$root/lines_spjm", -1L)
        .contains("bucket,4*4,l_orderkey,l_linenumber"),
      "composite layout header missing")
    val q =
      """SELECT f.l_orderkey, f.l_linenumber, f.l_quantity, r.l_extendedprice
        |FROM graft_snap_dml.lines_spjm f
        |JOIN graft_snap_dml.rets_spjm r
        |  ON f.l_orderkey = r.l_orderkey AND f.l_linenumber = r.l_linenumber
        |WHERE f.l_orderkey <= 4000""".stripMargin
    requireZeroExchange(s, q, "composite-key SPJ")
    s.sql(q + "\nORDER BY f.l_orderkey, f.l_linenumber")
  }

  /** Bucket-pruned POINT READ: zone maps cannot skip on a hash-scattered
    * key (every bucket's file spans the full key range), but an equality
    * on the layout key pins the row's bucket by the layout's own hash —
    * the scan plans ONE bucket's files before any I/O
    * ([[graft.sources.v2.SnapshotRowScan.prunedBuckets]]). At 100 TB
    * this is the point-lookup story for a bucketed fact: 1/n of the
    * files, driver-side, no index build. In-query guard: the scan RDD
    * holds exactly one input partition; oracle proves the rows. */
  private def snapshotSqlBucketPoint(s: SparkSession, d: String): DataFrame = {
    val root = "/tmp/graft-warehouse/snapcat_dml"
    val loc = s"$root/orders_bp"
    val p = new org.apache.hadoop.fs.Path(loc)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    s.conf.set("spark.sql.catalog.graft_snap_dml",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap_dml.root", root)
    graft.ops.Snapshots.commitAppend(
      Tables.orders(s, d).repartition(4), loc)
    s.sql("CALL graft_snap_dml.system.bucket('orders_bp', 'o_orderkey', 8)")
    val q =
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM graft_snap_dml.orders_bp
        |WHERE o_orderkey IN (7, 1234)""".stripMargin
    val probe = s.sql(q)
    val planned = probe.rdd.getNumPartitions
    require(planned <= 2,
      s"bucket point read planned $planned buckets (of 8) — pruning dead")
    s.sql(q + "\nORDER BY o_orderkey")
  }

  /** Layout AT BIRTH: `CREATE TABLE … PARTITIONED BY (bucket(8, key))`
    * declares the bucket layout on the EMPTY table — the `#layout=`
    * header rides the schema-only v1 manifest, so the very first
    * `INSERT INTO` routes through the bucketed DSv2 write and the fact
    * is co-partition-joinable from its first row. The whole lifecycle —
    * DDL, two ingest batches per table, the join — is pure SQL with NO
    * maintenance verb anywhere: the 100 TB pipeline never pays the
    * `CALL system.bucket` full rewrite because the table never existed
    * un-bucketed. In-query guards: both tables' headers present, every
    * file routed, finalized adaptive join plan has ZERO Exchange;
    * oracle proves exact rows. */
  private def snapshotSqlCreateBucketed(s: SparkSession, d: String): DataFrame = {
    val root = "/tmp/graft-warehouse/snapcat_dml"
    Seq(s"$root/orders_ctb", s"$root/lines_ctb").foreach { loc =>
      val p = new org.apache.hadoop.fs.Path(loc)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    }
    s.conf.set("spark.sql.catalog.graft_snap_dml",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap_dml.root", root)
    Tables.orders(s, d).createOrReplaceTempView("orders_src_ctb")
    Tables.lineitem(s, d).createOrReplaceTempView("lines_src_ctb")
    s.sql("""CREATE TABLE graft_snap_dml.orders_ctb
            |  (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)
            |PARTITIONED BY (bucket(8, o_orderkey))""".stripMargin)
    s.sql("""CREATE TABLE graft_snap_dml.lines_ctb
            |  (l_orderkey BIGINT, l_linenumber INT, l_quantity DOUBLE)
            |PARTITIONED BY (bucket(8, l_orderkey))""".stripMargin)
    // the two tables' ingests are independent — overlap them (guide
    // §2.6); the orders INSERTs stay sequential (same table)
    graft.core.Par.pair(
      {
        s.sql("""INSERT INTO graft_snap_dml.orders_ctb
                |SELECT o_orderkey, o_custkey, o_totalprice
                |FROM orders_src_ctb WHERE o_orderkey % 2 = 0""".stripMargin)
        s.sql("""INSERT INTO graft_snap_dml.orders_ctb
                |SELECT o_orderkey, o_custkey, o_totalprice
                |FROM orders_src_ctb WHERE o_orderkey % 2 = 1""".stripMargin)
      },
      s.sql("""INSERT INTO graft_snap_dml.lines_ctb
              |SELECT l_orderkey, l_linenumber, l_quantity
              |FROM lines_src_ctb""".stripMargin))
    Seq(s"$root/orders_ctb" -> "bucket,8,o_orderkey",
        s"$root/lines_ctb" -> "bucket,8,l_orderkey").foreach { case (loc, want) =>
      val v = graft.ops.Snapshots.latestVersion(s, loc)
      require(graft.ops.Snapshots.versionLayout(s, loc, v).contains(want),
        s"CREATE-declared layout lost by v$v at $loc")
      val unrouted = graft.ops.Snapshots.versionFiles(s, loc, v)
        .filterNot(f => graft.ops.BucketLayout.bucketOfPath(f).isDefined)
      require(unrouted.isEmpty, s"unrouted files under a birth layout: $unrouted")
    }
    val q =
      """SELECT o.o_orderkey, l.l_linenumber, o.o_totalprice, l.l_quantity
        |FROM graft_snap_dml.orders_ctb o
        |JOIN graft_snap_dml.lines_ctb l ON o.o_orderkey = l.l_orderkey
        |WHERE o.o_orderkey <= 2000""".stripMargin
    requireZeroExchange(s, q, "birth-layout SPJ")
    s.sql(q + "\nORDER BY o.o_orderkey, l.l_linenumber")
  }

  /** The in-query SPJ guard every storage-partitioned-join fixture
    * shares: run `q` with broadcasting disabled, finalize the adaptive
    * plan, and require ZERO ShuffleExchange anywhere in it. */
  private def requireZeroExchange(s: SparkSession, q: String,
                                  what: String): Unit = {
    val prevBc = s.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val probe = s.sql(q)
      probe.collect() // finalize the adaptive plan
      val shuffles = countShuffles(probe.queryExecution.executedPlan)
      require(shuffles == 0,
        s"$what still shuffled ($shuffles exchanges):\n" +
          probe.queryExecution.executedPlan)
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
  }

  private def countShuffles(plan: org.apache.spark.sql.execution.SparkPlan): Int = {
    var n = 0
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
      p match {
        case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
          n += 1
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan)
        case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          walk(qs.plan)
        case _ => ()
      }
      p.children.foreach(walk)
    }
    walk(plan)
    n
  }

  /** Shuffle-free aggregation on the bucket-layout key: the scan's
    * `KeyGroupedPartitioning(bucket(n, k))` satisfies the aggregate's
    * ClusteredDistribution exactly as it satisfies the join's — every
    * key lives in ONE bucket, so the partial aggregate IS the final
    * aggregate and the plan has ZERO Exchange. At 100 TB this removes
    * the full-table shuffle from `GROUP BY key` on any table already
    * laid out for its join key — the aggregation sibling of
    * [[snapshotSqlSpj]] (the reference pays a full sort/shuffle for
    * every reduce; a pre-bucketed layout answers repeated group-bys for
    * one layout write). */
  private def snapshotSqlSpjAgg(s: SparkSession, d: String): DataFrame = {
    val root = "/tmp/graft-warehouse/snapcat_dml"
    val loc = s"$root/lines_spj_agg"
    val p = new org.apache.hadoop.fs.Path(loc)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    s.conf.set("spark.sql.catalog.graft_snap_dml",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap_dml.root", root)
    graft.ops.Snapshots.commitAppend(
      Tables.lineitem(s, d).repartition(4), loc)
    s.sql("CALL graft_snap_dml.system.bucket('lines_spj_agg', 'l_orderkey', 8)")
    val q =
      """SELECT l_orderkey, count(*) AS n_lines, sum(l_quantity) AS sum_qty
        |FROM graft_snap_dml.lines_spj_agg
        |GROUP BY l_orderkey""".stripMargin
    val probe = s.sql(q)
    probe.collect() // finalize the adaptive plan
    val shuffles = countShuffles(probe.queryExecution.executedPlan)
    require(shuffles == 0,
      s"bucket-keyed aggregation still shuffled ($shuffles exchanges):\n" +
        probe.queryExecution.executedPlan)
    s.sql(q + "\nORDER BY l_orderkey")
  }

  /** Substring-search file skipping via the GRAM-Bloom sidecar
    * ([[graft.ops.BloomSidecar.attachGramBlooms]], `CALL
    * system.attach_grams`): each file's sidecar filter holds every
    * distinct lowercase 4-gram its text contains, so a pushed `LIKE
    * '%needle%'` keeps only files holding ALL grams of the needle — the
    * trigram-index idea (pg_trgm, Google Code Search) as driver-side
    * file skipping. At 100 TB this is the decontamination-probe / grep
    * access pattern: "which documents mention this eval string" reads
    * O(containing files), not the corpus. The needle derives from the
    * data (a 16-char substring of doc 0), so Spark and the DuckDB oracle
    * compute the identical predicate on any fixture; the in-query guard
    * asserts files were actually skipped, the oracle proves exact rows. */
  private def snapshotSqlGrep(s: SparkSession, d: String): DataFrame = {
    val root = "/tmp/graft-warehouse/snapcat_dml"
    val loc = s"$root/docs_grep"
    val p = new org.apache.hadoop.fs.Path(loc)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    s.conf.set("spark.sql.catalog.graft_snap_dml",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap_dml.root", root)
    val docs = Tables.documents(s, d)
    graft.ops.Snapshots.commitAppend(docs.repartition(8), loc)
    s.sql("CALL graft_snap_dml.system.attach_grams('docs_grep', 'text')")
    import s.implicits._
    val needle = docs.filter(col("doc_id") === 0L)
      .select(substring(col("text"), 10, 16)).as[String].head()
    require(!needle.contains("%") && !needle.contains("'") && needle.length >= 8,
      s"fixture text unsuitable as a LIKE needle: '$needle'")
    val df = s.sql(
      s"""SELECT doc_id, lang, n_chars
         |FROM graft_snap_dml.docs_grep
         |WHERE text LIKE '%$needle%'
         |ORDER BY doc_id""".stripMargin)
    val planned = plannedParquetFiles(df)
    val total = graft.ops.Snapshots.versionFiles(s, loc, 1L).length
    require(planned < total,
      s"gram sidecar skipped nothing: planned $planned of $total files")
    df
  }

  /** Metadata-only undo ([[graft.ops.Snapshots.rollback]], SQL `CALL
    * system.rollback`): a bad replace is undone by re-publishing the
    * good version's manifest as the newest commit — one manifest rename,
    * ZERO data movement, at any table size. History stays linear and
    * complete (the bad version remains time-travelable; `history` shows
    * all four commits), and the restored manifest's `#lineage=` header
    * records what it restored. The in-query guards pin both; the oracle
    * proves the restored rows exactly. */
  private def snapshotSqlRollback(s: SparkSession, d: String): DataFrame = {
    val root = "/tmp/graft-warehouse/snapcat_dml"
    val loc = s"$root/orders_rb"
    val p = new org.apache.hadoop.fs.Path(loc)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    s.conf.set("spark.sql.catalog.graft_snap_dml",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap_dml.root", root)
    val orders = Tables.orders(s, d)
    graft.ops.Snapshots.commitAppend(
      orders.filter(col("o_orderkey") % 3 === 0).repartition(3), loc)
    graft.ops.Snapshots.commitAppend(
      orders.filter(col("o_orderkey") % 3 === 1).repartition(2), loc)
    // the "bad" commit: a replace that drops everything but F-status rows
    graft.ops.Snapshots.commitReplace(
      orders.filter(col("o_orderstatus") === "F").limit(10), loc)
    val restored = s.sql(
      "CALL graft_snap_dml.system.rollback('orders_rb', 2)").collect()
    require(restored.head.getLong(0) == 4L && restored.head.getLong(1) == 2L,
      s"rollback published ${restored.head}: expected version 4 restoring 2")
    val hist = s.sql("SELECT count(*) FROM graft_snap_dml.orders_rb.history")
      .collect().head.getLong(0)
    require(hist == 4L, s"history must keep all $hist commits (bad one included)")
    s.sql(
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderdate, o_orderpriority
        |FROM graft_snap_dml.orders_rb
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** Write-audit-publish through pure SQL (`graft.ops.Refs`): tag the
    * blessed state, fork a branch (one manifest, zero data movement),
    * stage an INSERT and an audit-time DELETE on `\`t#audit\``, verify
    * the parent never saw the staged writes, then `CALL fast_forward` —
    * the audited state lands as ONE parent commit naming the branch's
    * files by reference, and the tag still reads the pre-publish state
    * by name. The oracle replays the net effect relationally. */
  private def snapshotSqlWap(s: SparkSession, d: String): DataFrame = {
    val root = "/tmp/graft-warehouse/snapcat_refs"
    val loc = s"$root/orders_wap"
    val p = new org.apache.hadoop.fs.Path(loc)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    s.conf.set("spark.sql.catalog.graft_snap_refs",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap_refs.root", root)
    val orders = Tables.orders(s, d)
    graft.ops.Snapshots.commitAppend(
      orders.filter(col("o_orderkey") % 3 === 0).repartition(3), loc)
    val base = s.sql("SELECT count(*) FROM graft_snap_refs.orders_wap")
      .head().getLong(0)
    s.sql("CALL graft_snap_refs.system.tag('orders_wap', 'blessed')")
    s.sql("CALL graft_snap_refs.system.branch('orders_wap', 'audit')")
    // WRITE: stage new rows + an audit-time cleanup on the branch only
    orders.filter(col("o_orderkey") % 3 === 1)
      .createOrReplaceTempView("orders_wap_stage")
    s.sql("""INSERT INTO graft_snap_refs.`orders_wap#audit`
            |SELECT * FROM orders_wap_stage""".stripMargin)
    s.sql("DELETE FROM graft_snap_refs.`orders_wap#audit` " +
      "WHERE o_orderstatus = 'P'")
    // AUDIT: the parent is untouched while the branch holds the candidate
    require(s.sql("SELECT count(*) FROM graft_snap_refs.orders_wap")
      .head().getLong(0) == base, "branch writes leaked into the parent")
    // PUBLISH: one commit, files by reference; the tag still reads v1
    s.sql("CALL graft_snap_refs.system.fast_forward('orders_wap', 'audit')")
    require(s.sql(
      "SELECT count(*) FROM graft_snap_refs.orders_wap VERSION AS OF 'blessed'")
      .head().getLong(0) == base, "tag no longer reads the blessed state")
    require(s.sql(
      "SELECT count(*) FROM graft_snap_refs.orders_wap.refs WHERE kind='branch'")
      .head().getLong(0) == 1L, "refs metadata lost the branch")
    s.sql(
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderdate, o_orderpriority
        |FROM graft_snap_refs.orders_wap
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** The change feed through pure SQL: `<cat>.<t>.changes` serves ONE
    * commit's exact row-level delta (`Snapshots.diff(v-1, v)` — cost
    * O(changed files), the manifest-diff rule), with `VERSION AS OF`
    * pinning WHICH commit: `...changes VERSION AS OF 2` is "what did
    * commit 2 do". Here commit 2 is an append + commit 3 a CoW delete;
    * the query reads commit 2's delta and proves exactly the appended
    * rows come back tagged insert, untouched by the later delete. */
  private def snapshotSqlChanges(s: SparkSession, d: String): DataFrame = {
    val root = "/tmp/graft-warehouse/snapcat_refs"
    val loc = s"$root/orders_chg"
    val p = new org.apache.hadoop.fs.Path(loc)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    s.conf.set("spark.sql.catalog.graft_snap_refs",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap_refs.root", root)
    val orders = Tables.orders(s, d)
    graft.ops.Snapshots.commitAppend(
      orders.filter(col("o_orderkey") % 3 === 0).repartition(2), loc)
    graft.ops.Snapshots.commitAppend(
      orders.filter(col("o_orderkey") % 3 === 1).repartition(2), loc)
    graft.ops.Snapshots.commitDelete(s, loc, col("o_orderstatus") === "P")
    s.sql(
      """SELECT change, o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderdate, o_orderpriority
        |FROM graft_snap_refs.orders_chg.changes VERSION AS OF 2
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** CHECK constraints through pure SQL (`ops/Constraints`): declare the
    * gate with `CALL add_constraint`, prove a violating INSERT aborts
    * with NO published version (the table still reads the pre-INSERT
    * state), prove a valid INSERT lands, and return the final content —
    * the oracle replays the net effect (base + the valid rows only). The
    * gate reads O(new files) at the single publish choke point, so at
    * 100 TB a constrained INSERT costs one extra read of ITS OWN data,
    * never a table scan. */
  private def snapshotSqlConstraint(s: SparkSession, d: String): DataFrame = {
    val root = "/tmp/graft-warehouse/snapcat_refs"
    val loc = s"$root/orders_ck"
    val p = new org.apache.hadoop.fs.Path(loc)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    s.conf.set("spark.sql.catalog.graft_snap_refs",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap_refs.root", root)
    val orders = Tables.orders(s, d)
    graft.ops.Snapshots.commitAppend(
      orders.filter(col("o_orderkey") % 4 === 0).repartition(3), loc)
    s.sql("""CALL graft_snap_refs.system.add_constraint(
            |  'orders_ck', 'price_pos', 'o_totalprice > 0')""".stripMargin)
    orders.filter(col("o_orderkey") % 4 === 1)
      .createOrReplaceTempView("orders_ck_ok")
    s.sql("INSERT INTO graft_snap_refs.orders_ck SELECT * FROM orders_ck_ok")
    val bad = scala.util.Try(s.sql(
      """INSERT INTO graft_snap_refs.orders_ck
        |SELECT o_orderkey, o_custkey, o_orderstatus, -o_totalprice,
        |  o_orderdate, o_orderpriority
        |FROM orders_ck_ok LIMIT 5""".stripMargin))
    require(bad.isFailure, "violating INSERT was accepted")
    require(s.sql("SELECT max(version) FROM graft_snap_refs.orders_ck.history")
      .head().getLong(0) == 2L, "violating INSERT published a version")
    s.sql(
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderdate, o_orderpriority
        |FROM graft_snap_refs.orders_ck
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** The SQL twin: `WHERE o_orderkey = …` through the DSv2 catalog on the
    * same hash layout, with the sidecar attached via
    * `CALL system.attach_blooms` — ZoneMapScanBuilder maps the pushed
    * point predicate through the Bloom sidecar and hands the parquet scan
    * only the surviving files (the pushed filter still applies below for
    * row-group pruning). */
  private def snapshotSqlBloom(s: SparkSession, d: String): DataFrame = {
    val root = "/tmp/graft-warehouse/snapcat_dml"
    val loc = s"$root/orders_bloom_sql"
    val p = new org.apache.hadoop.fs.Path(loc)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    s.conf.set("spark.sql.catalog.graft_snap_dml",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap_dml.root", root)
    graft.ops.Snapshots.commitAppend(
      Tables.orders(s, d).repartition(8, col("o_custkey")), loc)
    s.sql("CALL graft_snap_dml.system.attach_blooms('orders_bloom_sql', 'o_orderkey')")
    val df = s.sql(
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderdate, o_orderpriority
        |FROM graft_snap_dml.orders_bloom_sql
        |WHERE o_orderkey IN (7, 33, 1234)
        |ORDER BY o_orderkey""".stripMargin)
    val planned = plannedParquetFiles(df)
    val total = graft.ops.Snapshots.versionFiles(s, loc, 1L).length
    require(planned < total,
      s"SQL blooms skipped nothing: planned $planned of $total files")
    df
  }

  /** Metadata-only aggregates (`Snapshots.statAggValues` through
    * `ZoneMapScanBuilder`): a filterless COUNT(*)/MIN/MAX over the DSv2
    * catalog answers from the stats sidecar's per-file row counts and
    * bounds as a driver-LOCAL scan — zero tasks, zero file opens; at
    * 100 TB `SELECT count(*)` is one sidecar read. The guard asserts the
    * plan is a LocalTableScan with no file scan underneath; the oracle
    * proves the values equal the real aggregation. */
  private def snapshotSqlAgg(s: SparkSession, d: String): DataFrame = {
    val root = "/tmp/graft-warehouse/snapcat_dml"
    val loc = s"$root/orders_agg"
    val p = new org.apache.hadoop.fs.Path(loc)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    s.conf.set("spark.sql.catalog.graft_snap_dml",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap_dml.root", root)
    graft.ops.Snapshots.commitAppend(
      Tables.orders(s, d).repartition(8), loc)
    s.sql("CALL graft_snap_dml.system.attach_stats('orders_agg', " +
      "'o_orderkey,o_totalprice,o_orderdate')")
    val df = s.sql(
      """SELECT count(*) AS n_orders,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
        |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
        |  min(o_orderdate) AS first_day, max(o_orderdate) AS last_day
        |FROM graft_snap_dml.orders_agg""".stripMargin)
    val plan = df.queryExecution.executedPlan
    val local = plan.collectFirst {
      case l: org.apache.spark.sql.execution.LocalTableScanExec => l }
    val scans = plan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b }
    require(local.isDefined && scans.isEmpty,
      s"aggregate did not answer from metadata:\n$plan")
    df
  }

  /** Metadata tables (`Snapshots.history` via `SnapshotMetaTable`):
    * `<cat>.<t>.history` serves the commit log — per-version file
    * counts, DV counts, and file-set deltas — as a driver-LOCAL plan
    * (manifest-sized, zero data files opened). The fixture's commit
    * shapes (3-file append, 2-file append, MoR delete, 4-file replace)
    * make every row deterministic; the oracle pins them as literals. */
  private def snapshotSqlHistory(s: SparkSession, d: String): DataFrame = {
    val root = "/tmp/graft-warehouse/snapcat_dml"
    val loc = s"$root/orders_hist"
    val p = new org.apache.hadoop.fs.Path(loc)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    s.conf.set("spark.sql.catalog.graft_snap_dml",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap_dml.root", root)
    val orders = Tables.orders(s, d)
    graft.ops.Snapshots.commitAppend(
      orders.filter(col("o_orderkey") % 3 === 0).repartition(3), loc)
    graft.ops.Snapshots.commitAppend(
      orders.filter(col("o_orderkey") % 3 === 1).repartition(2), loc)
    graft.ops.Snapshots.commitDeleteMoR(s, loc,
      col("o_orderkey") === 3L) // delete vector only: file set unchanged
    graft.ops.Snapshots.commitReplace(
      orders.filter(col("o_orderkey") % 3 === 2).repartition(4), loc)
    val df = s.sql(
      """SELECT version, n_files, n_dvs, added_files, removed_files
        |FROM graft_snap_dml.orders_hist.history ORDER BY version""".stripMargin)
    // the ORDER BY adds an exchange, so AQE wraps the physical plan —
    // assert locality on the optimized logical plan instead
    require(df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
        if r.scan.isInstanceOf[org.apache.spark.sql.connector.read.LocalScan] => r
    }.isDefined, "history must plan as a local scan")
    df
  }

  /** The files metadata table (`Snapshots.filesMeta`): per-file sizes
    * (always) and sidecar-proven row counts — the aggregate ties the
    * metadata back to the data: sum(row_count) over `<cat>.<t>.files`
    * must equal the table's true row count, with the file count pinned
    * by the fixture's layout. */
  private def snapshotSqlFiles(s: SparkSession, d: String): DataFrame = {
    val root = "/tmp/graft-warehouse/snapcat_dml"
    val loc = s"$root/orders_fmeta"
    val p = new org.apache.hadoop.fs.Path(loc)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    s.conf.set("spark.sql.catalog.graft_snap_dml",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap_dml.root", root)
    graft.ops.Snapshots.commitAppend(Tables.orders(s, d).repartition(8), loc)
    s.sql("CALL graft_snap_dml.system.attach_stats('orders_fmeta', 'o_orderkey')")
    val df = s.sql(
      """SELECT count(*) AS n_files, sum(row_count) AS n_rows,
        |  max(version) AS version
        |FROM graft_snap_dml.orders_fmeta.files
        |WHERE size_bytes > 0""".stripMargin)
    df
  }

  /** `TIMESTAMP AS OF` through the catalog (`Snapshots.versionAtTime`):
    * an instant captured between two commits resolves to the FIRST —
    * manifest publish times, one directory listing, no data opened. The
    * oracle is the first commit's rows. */
  private def snapshotSqlTimeTravelTs(s: SparkSession, d: String): DataFrame = {
    val root = "/tmp/graft-warehouse/snapcat_dml"
    val loc = s"$root/orders_ts"
    val p = new org.apache.hadoop.fs.Path(loc)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    s.conf.set("spark.sql.catalog.graft_snap_dml",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap_dml.root", root)
    val orders = Tables.orders(s, d)
    graft.ops.Snapshots.commitAppend(
      orders.filter(col("o_orderkey") <= 1000L), loc)
    Thread.sleep(30) // manifest mtimes must straddle the captured instant
    val mid = System.currentTimeMillis()
    Thread.sleep(30)
    graft.ops.Snapshots.commitAppend(
      orders.filter(col("o_orderkey") > 1000L), loc)
    s.sql(
      s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         |  o_orderdate, o_orderpriority
         |FROM graft_snap_dml.orders_ts TIMESTAMP AS OF timestamp_millis(${mid}L)
         |ORDER BY o_orderkey""".stripMargin)
  }

  /** Declared-stats auto-maintenance (`CALL auto_stats` →
    * `Snapshots.autoStats` on every SQL write): stat columns are
    * declared ONCE; the INSERT below refreshes the sidecar itself —
    * incrementally, new files only — so the range read prunes files on
    * the post-INSERT version with no second CALL. The guard asserts
    * skipping on version 2; the oracle proves exact rows. */
  private def snapshotAutoStats(s: SparkSession, d: String): DataFrame = {
    val root = "/tmp/graft-warehouse/snapcat_dml"
    val loc = s"$root/orders_auto"
    val p = new org.apache.hadoop.fs.Path(loc)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    s.conf.set("spark.sql.catalog.graft_snap_dml",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap_dml.root", root)
    val orders = Tables.orders(s, d)
    graft.ops.Snapshots.commitAppend(
      orders.filter(col("o_orderkey") <= 3000L)
        .repartitionByRange(4, col("o_orderkey")), loc)
    s.sql("CALL graft_snap_dml.system.auto_stats('orders_auto', 'o_orderkey')")
    // the INSERT maintains the sidecar itself — no second CALL
    s.sql(
      """INSERT INTO graft_snap_dml.orders_auto
        |SELECT * FROM graft_snap_dml.orders_auto WHERE o_orderkey > 2500""".stripMargin)
    val df = s.sql(
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderdate, o_orderpriority
        |FROM graft_snap_dml.orders_auto
        |WHERE o_orderkey BETWEEN 100 AND 400
        |ORDER BY o_orderkey""".stripMargin)
    val planned = plannedParquetFiles(df)
    val total = graft.ops.Snapshots.versionFiles(
      s, loc, graft.ops.Snapshots.latestVersion(s, loc)).length
    require(planned < total,
      s"auto-maintained sidecar skipped nothing: planned $planned of $total")
    df
  }

  /** Runtime (join-driven) file skipping (`RuntimePrunedScan` via
    * `SupportsRuntimeV2Filtering`): the dim side's join-key values reach
    * the fact scan at EXECUTION time and prune files through the same
    * sidecar fold static predicates use — the DPP analog for
    * unpartitioned tables. The fixture's dim keys all fall in the low
    * key range, so a broadcast join plans O(low-range files); the guard
    * reads the post-runtime plan size, the oracle proves exact rows. */
  private def snapshotSqlRuntimePrune(s: SparkSession, d: String): DataFrame = {
    val root = "/tmp/graft-warehouse/snapcat_dml"
    val loc = s"$root/orders_rp"
    val p = new org.apache.hadoop.fs.Path(loc)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    s.conf.set("spark.sql.catalog.graft_snap_dml",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap_dml.root", root)
    val orders = Tables.orders(s, d)
    // fact build (commit + stats) and dim write are independent —
    // overlap them (guide §2.6)
    graft.core.Par.pair(
      {
        graft.ops.Snapshots.commitAppend(
          orders.repartitionByRange(8, col("o_orderkey")), loc)
        s.sql("CALL graft_snap_dml.system.attach_stats('orders_rp', 'o_orderkey')")
      },
      orders.filter(col("o_orderkey") <= 1200L)
        .select(col("o_orderkey").as("k"),
          when(col("o_orderkey") <= 600L, lit("hot")).otherwise(lit("cold")).as("tag"))
        .write.mode("overwrite").parquet(s"$root/orders_rp_dim"))
    s.read.parquet(s"$root/orders_rp_dim").createOrReplaceTempView("graft_rp_dim")
    val df = s.sql(
      """SELECT f.o_orderkey, f.o_custkey, f.o_orderstatus, f.o_totalprice,
        |  f.o_orderdate, f.o_orderpriority
        |FROM graft_snap_dml.orders_rp f
        |JOIN graft_rp_dim d ON f.o_orderkey = d.k
        |WHERE d.tag = 'hot'
        |ORDER BY f.o_orderkey""".stripMargin)
    val rows = df.collect() // runtime filters only exist at execution
    val kept = graft.sources.v2.RuntimePrunedScan.lastKeptFiles(loc)
    val total = graft.ops.Snapshots.versionFiles(s, loc, 1L).length
    require(kept.exists(_ < total),
      s"runtime join keys skipped nothing: kept $kept of $total files")
    s.createDataFrame(s.sparkContext.parallelize(rows.toIndexedSeq, 1), df.schema)
  }

  /** Top-n file pruning (`Snapshots.statTopFiles` through the DSv2
    * scan's `SupportsPushDownTopN`): `ORDER BY key DESC LIMIT n` on a
    * range-clustered, sidecar-covered column plans only the files that
    * can hold a top-n row — the "latest n" plan reads O(files holding
    * the answer), not O(table). The guard asserts actual file skipping;
    * the oracle proves exact rows (the sort key is unique, so the top-n
    * set is deterministic). */
  private def snapshotSqlTopn(s: SparkSession, d: String): DataFrame = {
    val root = "/tmp/graft-warehouse/snapcat_dml"
    val loc = s"$root/orders_topn"
    val p = new org.apache.hadoop.fs.Path(loc)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    s.conf.set("spark.sql.catalog.graft_snap_dml",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap_dml.root", root)
    graft.ops.Snapshots.commitAppend(
      Tables.orders(s, d).repartitionByRange(8, col("o_orderkey")), loc)
    s.sql("CALL graft_snap_dml.system.attach_stats('orders_topn', 'o_orderkey')")
    val df = s.sql(
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderdate, o_orderpriority
        |FROM graft_snap_dml.orders_topn
        |ORDER BY o_orderkey DESC LIMIT 100""".stripMargin)
    val planned = plannedParquetFiles(df)
    val total = graft.ops.Snapshots.versionFiles(s, loc, 1L).length
    require(planned < total,
      s"top-n skipped nothing: planned $planned of $total files")
    df
  }

  /** Stats-pruned DELETE (`Snapshots.commitDelete` with `pruneBy`): on a
    * range-clustered layout with zone-map sidecars, the affected-file
    * DETECTION scan touches only files whose [min, max] intersects the
    * hint — O(candidates), not O(table) — and non-candidates are carried
    * unread (guard asserts the carry; SnapshotsSpec proves the hint
    * actually gates the scan via the non-intersecting-hint contract). */
  private def snapshotDeletePruned(s: SparkSession, d: String): DataFrame = {
    val loc = "/tmp/graft-warehouse/snapshots/orders_delete_pruned"
    val p = new org.apache.hadoop.fs.Path(loc)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    graft.ops.Snapshots.commitAppend(
      Tables.orders(s, d).repartitionByRange(8, col("o_orderkey")), loc)
    graft.ops.Snapshots.attachStats(s, loc, 1L, Seq("o_orderkey"))
    val before = graft.ops.Snapshots.read(s, loc).inputFiles.length
    graft.ops.Snapshots.commitDelete(s, loc,
      col("o_orderkey").between(100, 500),
      pruneBy = Some(("o_orderkey", "100", "500")))
    val carried = graft.ops.Snapshots.read(s, loc).inputFiles.count(
      graft.ops.Snapshots.read(s, loc, 1).inputFiles.toSet)
    // the 100-500 range spans at most ~3 of the 8 range-clustered files
    // at the smallest SF (keys-per-file shrinks with the corpus), fewer
    // at larger ones
    require(carried >= before - 4,
      s"pruned delete rewrote too much: carried $carried of $before")
    graft.ops.Snapshots.read(s, loc).orderBy(col("o_orderkey"))
  }

  /** Row-level MERGE on the snapshot format (`Snapshots.commitMerge`):
    * upsert a source of updated (every 6th order, doubled price) and new
    * (the %3==1 third) rows into the %3==0 base — matched keys replaced
    * whole-row, unmatched inserted, only key-containing files rewritten
    * (SnapshotsSpec pins the carried file). */
  private def snapshotMergeRows(s: SparkSession, d: String): DataFrame = {
    val loc = "/tmp/graft-warehouse/snapshots/orders_merge"
    val p = new org.apache.hadoop.fs.Path(loc)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val o = Tables.orders(s, d)
    graft.ops.Snapshots.commitAppend(o.filter(col("o_orderkey") % 3 === 0), loc)
    val source = o.filter(col("o_orderkey") % 6 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
      .unionByName(o.filter(col("o_orderkey") % 3 === 1))
    graft.ops.Snapshots.commitMerge(s, loc, source, "o_orderkey")
    graft.ops.Snapshots.read(s, loc)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
      .orderBy(col("o_orderkey"))
  }

  /** Incremental consumption (`streaming/SnapshotTail.processOnce`): a
    * consumer tails the same commit history as [[snapshotChangeFeed]] in
    * TWO cursor-tracked steps; the concatenation must equal the one-shot
    * feed — the split-consumption invariant, here under the driver's
    * oracle (SnapshotTailSpec additionally pins crash replay and the
    * empty-interval no-op). */
  private def snapshotTail(s: SparkSession, d: String): DataFrame = {
    val loc = "/tmp/graft-warehouse/snapshots/orders_tail"
    val ck = "/tmp/graft-warehouse/snapshots/orders_tail_ck"
    Seq(loc, ck).foreach { x =>
      val p = new org.apache.hadoop.fs.Path(x)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    }
    val o = Tables.orders(s, d)
    val batches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    graft.ops.Snapshots.commitAppend(o.filter(col("o_orderkey") % 3 === 0), loc)
    graft.streaming.SnapshotTail.processOnce(s, loc, ck)(df => batches += df)
    graft.ops.Snapshots.commitAppend(o.filter(col("o_orderkey") % 3 === 1), loc)
    graft.ops.Snapshots.commitDelete(s, loc, col("o_orderstatus") === "F")
    graft.streaming.SnapshotTail.processOnce(s, loc, ck)(df => batches += df)
    batches.reduce(_ unionByName _)
      .orderBy(col("_commit_version"), col("change"), col("o_orderkey"))
  }

  /** The DSv2 STREAMING source over the same commit history
    * (`sources/v2/SnapshotStream.scala`): `readStream` tails the
    * snapshot table with offsets = versions under a real
    * `Trigger.AvailableNow` run — each micro-batch reads exactly the
    * files its commits added through Spark's own parquet reader, and the
    * engine's checkpoint replaces the hand-rolled cursor
    * ([[snapshotTail]]'s polling sibling). Driver-certified against the
    * same insert-only feed the batch changeFeed produces
    * (SnapshotStreamSpec pins stream ≡ changeFeed two-sided, restart
    * resume, and the DML fail-fast contract). */
  private def snapshotStreamTail(s: SparkSession, d: String): DataFrame = {
    val loc = "/tmp/graft-warehouse/snapshots/orders_stream"
    val ck = "/tmp/graft-warehouse/snapshots/orders_stream_ck"
    val sink = "/tmp/graft-warehouse/snapshots/orders_stream_out"
    Seq(loc, ck, sink).foreach { x =>
      val p = new org.apache.hadoop.fs.Path(x)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    }
    val o = Tables.orders(s, d)
    graft.ops.Snapshots.commitAppend(o.filter(col("o_orderkey") % 3 === 0), loc)
    graft.ops.Snapshots.commitAppend(o.filter(col("o_orderkey") % 3 === 1), loc)
    val q = s.readStream
      .format(classOf[graft.sources.v2.SnapshotStreamProvider].getName)
      .option("location", loc)
      .load()
      .writeStream
      .format("parquet")
      .option("path", sink)
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    require(q.awaitTermination(300000), "snapshot stream did not drain")
    s.read.parquet(sink)
      .select(col("change"), col("_commit_version"), col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))
      .orderBy(col("_commit_version"), col("o_orderkey"))
  }

  /** INCREMENTAL compaction (`Snapshots.commitCompactionPartial` + the
    * `CALL <cat>.system.optimize_small` surface): a table with one
    * well-sized file and six tiny commits bin-packs ONLY the tiny files
    * — the well-sized file is carried by reference (guard pins it), cost
    * O(small files) not O(table), which is the only OPTIMIZE cadence a
    * 100 TB table can afford. The follow-up CALL exercises the SQL
    * route; the oracle certifies content through both passes
    * (SnapshotDvSpec pins the DV fold/carry split and the
    * no-gain-no-commit rule). */
  private def snapshotOptimizeSmall(s: SparkSession, d: String): DataFrame = {
    val root = "/tmp/graft-warehouse/snapcat_dml"
    val loc = s"$root/orders_osm"
    val p = new org.apache.hadoop.fs.Path(loc)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    s.conf.set("spark.sql.catalog.graft_snap_dml",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap_dml.root", root)
    val o = Tables.orders(s, d)
    graft.ops.Snapshots.commitAppend(
      o.filter(col("o_orderkey") % 3 === 0).coalesce(1), loc)
    val bigFiles = graft.ops.Snapshots.read(s, loc).inputFiles.toSet
    Seq(1, 4, 7, 10, 13, 16).foreach { k =>
      graft.ops.Snapshots.commitAppend(
        o.filter(col("o_orderkey") % 18 === k).coalesce(1), loc)
    }
    val before = graft.ops.Snapshots.read(s, loc).inputFiles.length
    graft.ops.Snapshots.commitCompactionPartial(s, loc,
      smallerThanBytes = bigFiles.map(f =>
        new org.apache.hadoop.fs.Path(f).getFileSystem(
          s.sparkContext.hadoopConfiguration)
          .getFileStatus(new org.apache.hadoop.fs.Path(f)).getLen).min)
    val after = graft.ops.Snapshots.read(s, loc).inputFiles
    require(after.length < before,
      s"partial compaction packed nothing: $before -> ${after.length}")
    require(bigFiles.subsetOf(after.toSet),
      "partial compaction rewrote the well-sized file")
    // SQL route on top: content must ride through unchanged
    s.sql("CALL graft_snap_dml.system.optimize_small('orders_osm', 1, 128)")
    s.sql("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
            |  o_orderdate, o_orderpriority
            |FROM graft_snap_dml.orders_osm ORDER BY o_orderkey""".stripMargin)
  }

  /** The WRITE direction of the streaming story
    * (`sources/v2/SnapshotWrite.scala`): a rate-limited file
    * stream (`maxFilesPerTrigger`) drains through
    * `writeStream.toTable(<catalog>.<table>)` under Trigger.AvailableNow
    * — the DSv2 route CREATES the snapshot table (schema-bearing first
    * commit) and lands every epoch as an exactly-once append commit with
    * a batch marker riding the manifest's atomic rename. The in-query
    * guards pin that MULTIPLE epochs committed (the rate limit actually
    * split the work) and every commit carries a marker; the oracle
    * certifies the assembled table content. SnapshotSinkSpec pins
    * restart-no-replay on both DSv2 routes. */
  private def snapshotStreamSink(s: SparkSession, d: String): DataFrame = {
    val root = "/tmp/graft-warehouse/snapcat_dml"
    val loc = s"$root/orders_ssink"
    val stage = "/tmp/graft-warehouse/snapshots/orders_ssink_stage"
    val ck = "/tmp/graft-warehouse/snapshots/orders_ssink_ck"
    Seq(loc, stage, ck).foreach { x =>
      val p = new org.apache.hadoop.fs.Path(x)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    }
    s.conf.set("spark.sql.catalog.graft_snap_dml",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_snap_dml.root", root)
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
    // the two staged input batches are independent writes into disjoint
    // directories — overlap them on two driver threads (guide §2.6, the
    // same Par treatment as the SPJ fixtures); the streamed query and
    // its epoch structure are untouched
    graft.core.Par.pair(
      o.filter(col("o_orderkey") % 3 === 0).repartition(2).write.parquet(s"$stage/b1"),
      o.filter(col("o_orderkey") % 3 === 1).repartition(2).write.parquet(s"$stage/b2"))
    val q = s.readStream.schema(o.schema)
      .option("maxFilesPerTrigger", "2")
      .parquet(s"$stage/*")
      .writeStream
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("graft_snap_dml.orders_ssink")
    require(q.awaitTermination(300000), "snapshot stream sink did not drain")
    val versions = graft.ops.Snapshots.latestVersion(s, loc)
    require(versions >= 3, // CREATE + at least two rate-limited epochs
      s"rate limit did not split the drain into epochs: $versions versions")
    require(graft.ops.Snapshots.markers(s, loc).count(_.startsWith("batch=")) >= 2,
      "streaming commits must carry exactly-once batch markers")
    s.sql("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
            |  o_orderdate, o_orderpriority
            |FROM graft_snap_dml.orders_ssink ORDER BY o_orderkey""".stripMargin)
  }

  /** Retention GC lifecycle (`Snapshots.expire`): three commits (two
    * appends, one logical overwrite that orphans every earlier file),
    * expire down to the latest version, then read the survivor. The
    * in-query guards make the GC itself part of the correctness gate:
    * exactly two manifests must drop, dead files must actually delete,
    * and the post-GC read must still hash-match the overwrite's content
    * (the oracle). SnapshotsSpec additionally pins live-file-set
    * equality and idempotence. */
  private def snapshotExpire(s: SparkSession, d: String): DataFrame = {
    val loc = "/tmp/graft-warehouse/snapshots/orders_expire"
    val p = new org.apache.hadoop.fs.Path(loc)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val o = Tables.orders(s, d)
    graft.ops.Snapshots.commitAppend(o.filter(col("o_orderkey") % 3 === 0), loc)
    graft.ops.Snapshots.commitAppend(o.filter(col("o_orderkey") % 3 === 1), loc)
    graft.ops.Snapshots.commitReplace(o.filter(col("o_orderstatus") === "O"), loc)
    val (droppedManifests, deletedFiles) =
      graft.ops.Snapshots.expire(s, loc, retainLast = 1)
    require(droppedManifests == 2 && deletedFiles > 0,
      s"expire did not collect: $droppedManifests manifests, $deletedFiles files")
    graft.ops.Snapshots.read(s, loc).orderBy(col("o_orderkey"))
  }

  val all: Seq[Q] = Seq(
    Q("snapshot_read", snapshotRead,
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |  o_orderdate, o_orderpriority
             |FROM orders WHERE o_orderkey % 3 = 0
             |ORDER BY o_orderkey""".stripMargin)),
    Q("snapshot_sql_time_travel", snapshotSqlTimeTravel,
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |  o_orderdate, o_orderpriority
             |FROM orders WHERE o_orderkey % 3 <= 1
             |ORDER BY o_orderkey""".stripMargin)),
    Q("snapshot_diff", snapshotDiff,
      Some("""SELECT 'insert' AS change, o_orderkey, o_custkey, o_orderstatus,
             |  o_totalprice, o_orderdate, o_orderpriority
             |FROM orders WHERE o_orderkey % 3 = 1 AND o_orderstatus <> 'F'
             |UNION ALL
             |SELECT 'delete', o_orderkey, o_custkey, o_orderstatus,
             |  o_totalprice, o_orderdate, o_orderpriority
             |FROM orders WHERE o_orderkey % 3 = 0 AND o_orderstatus = 'F'
             |ORDER BY change, o_orderkey""".stripMargin)),
    Q("snapshot_optimize", snapshotOptimize,
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |  o_orderdate, o_orderpriority
             |FROM orders WHERE o_orderkey % 3 = 0
             |ORDER BY o_orderkey""".stripMargin)),
    Q("snapshot_delete_rows", snapshotDeleteRows,
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |  o_orderdate, o_orderpriority
             |FROM orders WHERE o_orderkey % 3 <= 1 AND o_orderstatus <> 'F'
             |ORDER BY o_orderkey""".stripMargin)),
    Q("snapshot_evolution", snapshotEvolution,
      Some(s"""SELECT o_orderkey, o_custkey, o_orderstatus,
              |  CAST(NULL AS BIGINT) AS price_cents
              |FROM orders WHERE o_orderkey % 3 = 0
              |UNION ALL
              |SELECT o_orderkey, o_custkey, o_orderstatus,
              |  ${Ops.sqlCents("o_totalprice")} AS price_cents
              |FROM orders WHERE o_orderkey % 3 = 1
              |ORDER BY o_orderkey""".stripMargin)),
    Q("snapshot_sql_ddl", snapshotSqlDdl,
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
             |FROM orders WHERE o_orderkey % 5 = 0
             |ORDER BY o_orderkey""".stripMargin)),
    Q("snapshot_sql_default", snapshotSqlDefault,
      Some("""SELECT o_orderkey, o_custkey, o_totalprice,
             |  CASE WHEN o_orderkey % 3 = 1 THEN 'fresh' ELSE 'legacy' END AS source
             |FROM orders
             |ORDER BY o_orderkey""".stripMargin)),
    Q("snapshot_sql_lifecycle", snapshotSqlLifecycle,
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |  o_orderdate, o_orderpriority
             |FROM orders WHERE o_orderkey % 3 = 0 AND o_orderstatus <> 'F'
             |ORDER BY o_orderkey""".stripMargin)),
    Q("snapshot_sql_delete", snapshotSqlDelete,
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |  o_orderdate, o_orderpriority
             |FROM orders WHERE o_orderkey % 3 <= 1 AND o_orderstatus <> 'F'
             |ORDER BY o_orderkey""".stripMargin)),
    Q("snapshot_sql_replicate", snapshotSqlReplicate,
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |  o_orderdate, o_orderpriority
             |FROM orders
             |WHERE (o_orderkey % 3 = 0 AND o_orderkey % 9 <> 0)
             |   OR o_orderkey % 3 = 1
             |ORDER BY o_orderkey""".stripMargin)),
    Q("snapshot_ndv_exact", snapshotNdvExact,
      Some("""SELECT 'ck_mod' AS col_name, count(DISTINCT o_custkey % 500) AS ndv
             |FROM orders
             |UNION ALL
             |SELECT 'o_orderpriority', count(DISTINCT o_orderpriority) FROM orders
             |UNION ALL
             |SELECT 'o_orderstatus', count(DISTINCT o_orderstatus) FROM orders
             |ORDER BY col_name""".stripMargin)),
    Q("snapshot_sql_mv", snapshotSqlMvIncremental,
      Some("""SELECT lang, source, count(*) AS n,
             |  CAST(sum(n_chars) AS BIGINT) AS s_n_chars,
             |  count(n_chars) AS c_n_chars
             |FROM documents
             |WHERE (doc_id % 3 <= 1 AND (n_chars >= 200 OR n_chars IS NULL))
             |   OR doc_id % 3 = 2
             |GROUP BY lang, source
             |ORDER BY lang, source""".stripMargin)),
    Q("snapshot_sql_mv_rewrite", snapshotSqlMvRewrite,
      Some("""SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  count(n_chars) AS nn_chars
             |FROM documents
             |GROUP BY lang ORDER BY lang""".stripMargin)),
    Q("snapshot_sql_view", snapshotSqlView,
      Some("""SELECT o_orderpriority AS prio, count(*) AS n_open,
             |  CAST(round(max(o_totalprice) * 100) AS BIGINT) AS max_price
             |FROM orders
             |WHERE o_orderkey % 3 <= 1 AND o_orderstatus = 'O'
             |GROUP BY o_orderpriority
             |ORDER BY prio""".stripMargin)),
    Q("snapshot_sql_replicate_refs", snapshotSqlReplicateRefs,
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |  o_orderdate, o_orderpriority
             |FROM orders WHERE o_orderkey % 4 <= 2
             |ORDER BY o_orderkey""".stripMargin)),
    Q("snapshot_sql_retention", snapshotSqlRetention,
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |  o_orderdate, o_orderpriority
             |FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
             |ORDER BY o_orderkey""".stripMargin)),
    Q("snapshot_sql_merge", snapshotSqlMerge,
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus,
             |  CASE WHEN o_orderkey % 6 = 0 THEN o_totalprice * 2
             |       ELSE o_totalprice END AS o_totalprice,
             |  o_orderdate, o_orderpriority
             |FROM orders WHERE o_orderkey % 3 = 0
             |UNION ALL
             |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |  o_orderdate, o_orderpriority
             |FROM orders WHERE o_orderkey % 3 = 1
             |ORDER BY o_orderkey""".stripMargin)),
    Q("snapshot_fold_dvs", snapshotFoldDvs,
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |  o_orderdate, o_orderpriority
             |FROM orders
             |WHERE o_orderkey > (SELECT CAST(floor(max(o_orderkey) / 4.0) AS BIGINT)
             |                    FROM orders)
             |ORDER BY o_orderkey""".stripMargin)),
    Q("snapshot_delete_mor", snapshotDeleteMor,
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |  o_orderdate, o_orderpriority
             |FROM orders WHERE o_orderkey % 3 = 0 AND o_orderstatus <> 'F'
             |ORDER BY o_orderkey""".stripMargin)),
    Q("snapshot_update_rows", snapshotUpdateRows,
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus,
             |  CASE WHEN o_orderstatus = 'O' THEN o_totalprice * 2
             |       ELSE o_totalprice END AS o_totalprice,
             |  o_orderdate, o_orderpriority
             |FROM orders WHERE o_orderkey % 3 = 0
             |ORDER BY o_orderkey""".stripMargin)),
    Q("snapshot_delete_pruned", snapshotDeletePruned,
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |  o_orderdate, o_orderpriority
             |FROM orders WHERE o_orderkey NOT BETWEEN 100 AND 500
             |ORDER BY o_orderkey""".stripMargin)),
    Q("snapshot_merge_rows", snapshotMergeRows,
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus,
             |  CASE WHEN o_orderkey % 6 = 0 THEN o_totalprice * 2
             |       ELSE o_totalprice END AS o_totalprice,
             |  o_orderdate, o_orderpriority
             |FROM orders WHERE o_orderkey % 3 = 0
             |UNION ALL
             |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |  o_orderdate, o_orderpriority
             |FROM orders WHERE o_orderkey % 3 = 1
             |ORDER BY o_orderkey""".stripMargin)),
    Q("snapshot_stream_tail", snapshotStreamTail,
      Some("""SELECT 'insert' AS change, CAST(1 AS BIGINT) AS _commit_version,
             |  o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |  o_orderdate, o_orderpriority
             |FROM orders WHERE o_orderkey % 3 = 0
             |UNION ALL
             |SELECT 'insert', 2, o_orderkey, o_custkey, o_orderstatus,
             |  o_totalprice, o_orderdate, o_orderpriority
             |FROM orders WHERE o_orderkey % 3 = 1
             |ORDER BY _commit_version, o_orderkey""".stripMargin)),
    Q("snapshot_optimize_small", snapshotOptimizeSmall,
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |  o_orderdate, o_orderpriority
             |FROM orders WHERE o_orderkey % 3 <= 1
             |ORDER BY o_orderkey""".stripMargin)),
    Q("snapshot_stream_sink", snapshotStreamSink,
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |  o_orderdate, o_orderpriority
             |FROM orders WHERE o_orderkey % 3 <= 1
             |ORDER BY o_orderkey""".stripMargin)),
    Q("snapshot_tail", snapshotTail,
      Some("""WITH v1 AS (SELECT * FROM orders WHERE o_orderkey % 3 = 0),
             |v2 AS (SELECT * FROM orders WHERE o_orderkey % 3 = 1)
             |SELECT * FROM (
             |  SELECT 'insert' AS change, CAST(1 AS BIGINT) AS _commit_version,
             |    o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |    o_orderdate, o_orderpriority FROM v1
             |  UNION ALL
             |  SELECT 'insert', 2, o_orderkey, o_custkey, o_orderstatus,
             |    o_totalprice, o_orderdate, o_orderpriority FROM v2
             |  UNION ALL
             |  SELECT 'delete', 3, o_orderkey, o_custkey, o_orderstatus,
             |    o_totalprice, o_orderdate, o_orderpriority
             |  FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2) t
             |  WHERE o_orderstatus = 'F') f
             |ORDER BY _commit_version, change, o_orderkey""".stripMargin)),
    Q("snapshot_change_feed", snapshotChangeFeed,
      Some("""WITH v1 AS (SELECT * FROM orders WHERE o_orderkey % 3 = 0),
             |v2 AS (SELECT * FROM orders WHERE o_orderkey % 3 = 1)
             |SELECT * FROM (
             |  SELECT 'insert' AS change, CAST(1 AS BIGINT) AS _commit_version,
             |    o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |    o_orderdate, o_orderpriority FROM v1
             |  UNION ALL
             |  SELECT 'insert', 2, o_orderkey, o_custkey, o_orderstatus,
             |    o_totalprice, o_orderdate, o_orderpriority FROM v2
             |  UNION ALL
             |  SELECT 'delete', 3, o_orderkey, o_custkey, o_orderstatus,
             |    o_totalprice, o_orderdate, o_orderpriority
             |  FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2) t
             |  WHERE o_orderstatus = 'F') f
             |ORDER BY _commit_version, change, o_orderkey""".stripMargin)),
    Q("snapshot_skipping", snapshotSkipping,
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |  o_orderdate, o_orderpriority
             |FROM orders WHERE o_orderkey BETWEEN 100 AND 500
             |ORDER BY o_orderkey""".stripMargin)),
    Q("snapshot_sql_pruned", snapshotSqlPruned,
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |  o_orderdate, o_orderpriority
             |FROM orders WHERE o_orderkey BETWEEN 100 AND 500
             |ORDER BY o_orderkey""".stripMargin)),
    Q("snapshot_bloom_pruned", snapshotBloomPruned,
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |  o_orderdate, o_orderpriority
             |FROM orders WHERE o_orderkey IN (7, 33, 1234)
             |ORDER BY o_orderkey""".stripMargin)),
    Q("snapshot_sql_bloom", snapshotSqlBloom,
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |  o_orderdate, o_orderpriority
             |FROM orders WHERE o_orderkey IN (7, 33, 1234)
             |ORDER BY o_orderkey""".stripMargin)),
    Q("snapshot_sql_cluster", snapshotSqlCluster,
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |  o_orderdate, o_orderpriority
             |FROM orders
             |WHERE o_orderkey BETWEEN 100 AND 500 AND o_custkey BETWEEN 100 AND 200
             |ORDER BY o_orderkey""".stripMargin)),
    Q("snapshot_sql_spj", snapshotSqlSpj,
      Some("""SELECT o_orderkey, l_linenumber, o_totalprice, l_quantity
             |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
             |WHERE o_orderkey <= 2000
             |ORDER BY o_orderkey, l_linenumber""".stripMargin)),
    Q("snapshot_sql_spj_append", snapshotSqlSpjAppend,
      Some("""SELECT o_orderkey, l_linenumber, o_totalprice, l_quantity
             |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
             |WHERE o_orderkey <= 2000
             |ORDER BY o_orderkey, l_linenumber""".stripMargin)),
    Q("snapshot_sql_spj_insert", snapshotSqlSpjInsert,
      Some("""SELECT o_orderkey, l_linenumber, o_totalprice, l_quantity
             |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
             |WHERE o_orderkey <= 2000
             |ORDER BY o_orderkey, l_linenumber""".stripMargin)),
    Q("snapshot_sql_bucket_point", snapshotSqlBucketPoint,
      Some("""SELECT o_orderkey, o_custkey, o_totalprice
             |FROM orders WHERE o_orderkey IN (7, 1234)
             |ORDER BY o_orderkey""".stripMargin)),
    Q("snapshot_sql_bucket_split", snapshotSqlBucketSplit,
      Some("""SELECT o_orderkey, l_linenumber, o_totalprice, l_quantity
             |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
             |WHERE o_orderkey <= 2000
             |ORDER BY o_orderkey, l_linenumber""".stripMargin)),
    Q("snapshot_sql_create_bucketed", snapshotSqlCreateBucketed,
      Some("""SELECT o_orderkey, l_linenumber, o_totalprice, l_quantity
             |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
             |WHERE o_orderkey <= 2000
             |ORDER BY o_orderkey, l_linenumber""".stripMargin)),
    Q("snapshot_sql_spj_multi", snapshotSqlSpjMulti,
      Some("""SELECT f.l_orderkey, f.l_linenumber, f.l_quantity, r.l_extendedprice
             |FROM lineitem f
             |JOIN (SELECT l_orderkey, l_linenumber, l_extendedprice
             |      FROM lineitem WHERE l_returnflag = 'R') r
             |  ON f.l_orderkey = r.l_orderkey AND f.l_linenumber = r.l_linenumber
             |WHERE f.l_orderkey <= 4000
             |ORDER BY f.l_orderkey, f.l_linenumber""".stripMargin)),
    Q("snapshot_sql_grep", snapshotSqlGrep,
      Some("""SELECT doc_id, lang, n_chars FROM documents
             |WHERE text LIKE '%' ||
             |  (SELECT substr(text, 10, 16) FROM documents WHERE doc_id = 0)
             |  || '%'
             |ORDER BY doc_id""".stripMargin)),
    Q("snapshot_sql_spj_agg", snapshotSqlSpjAgg,
      Some("""SELECT l_orderkey, count(*) AS n_lines, sum(l_quantity) AS sum_qty
             |FROM lineitem GROUP BY l_orderkey
             |ORDER BY l_orderkey""".stripMargin)),
    Q("snapshot_sql_rollback", snapshotSqlRollback,
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |  o_orderdate, o_orderpriority
             |FROM orders WHERE o_orderkey % 3 <= 1
             |ORDER BY o_orderkey""".stripMargin)),
    Q("snapshot_sql_wap", snapshotSqlWap,
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |  o_orderdate, o_orderpriority
             |FROM orders
             |WHERE o_orderkey % 3 <= 1 AND o_orderstatus <> 'P'
             |ORDER BY o_orderkey""".stripMargin)),
    Q("snapshot_sql_constraint", snapshotSqlConstraint,
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |  o_orderdate, o_orderpriority
             |FROM orders WHERE o_orderkey % 4 <= 1
             |ORDER BY o_orderkey""".stripMargin)),
    Q("snapshot_sql_changes", snapshotSqlChanges,
      Some("""SELECT 'insert' AS change, o_orderkey, o_custkey,
             |  o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
             |FROM orders WHERE o_orderkey % 3 = 1
             |ORDER BY o_orderkey""".stripMargin)),
    Q("snapshot_sql_history", snapshotSqlHistory,
      Some("""SELECT CAST(v AS BIGINT) AS version, n_files, n_dvs,
             |  added_files, removed_files
             |FROM (VALUES (1, 3, 0, 3, 0), (2, 5, 0, 2, 0),
             |             (3, 5, 1, 0, 0), (4, 4, 0, 4, 5))
             |  t(v, n_files, n_dvs, added_files, removed_files)
             |ORDER BY version""".stripMargin)),
    Q("snapshot_sql_files", snapshotSqlFiles,
      Some("""SELECT CAST(8 AS BIGINT) AS n_files,
             |  count(*) AS n_rows, CAST(1 AS BIGINT) AS version
             |FROM orders""".stripMargin)),
    Q("snapshot_sql_time_travel_ts", snapshotSqlTimeTravelTs,
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |  o_orderdate, o_orderpriority
             |FROM orders WHERE o_orderkey <= 1000
             |ORDER BY o_orderkey""".stripMargin)),
    Q("snapshot_auto_stats", snapshotAutoStats,
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |  o_orderdate, o_orderpriority
             |FROM orders
             |WHERE o_orderkey BETWEEN 100 AND 400 AND o_orderkey <= 3000
             |ORDER BY o_orderkey""".stripMargin)),
    Q("snapshot_sql_runtime_prune", snapshotSqlRuntimePrune,
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |  o_orderdate, o_orderpriority
             |FROM orders WHERE o_orderkey <= 600
             |ORDER BY o_orderkey""".stripMargin)),
    Q("snapshot_sql_topn", snapshotSqlTopn,
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |  o_orderdate, o_orderpriority
             |FROM orders
             |ORDER BY o_orderkey DESC LIMIT 100""".stripMargin)),
    Q("snapshot_sql_agg", snapshotSqlAgg,
      Some("""SELECT count(*) AS n_orders,
             |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
             |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
             |  min(o_orderdate) AS first_day, max(o_orderdate) AS last_day
             |FROM orders""".stripMargin)),
    Q("snapshot_expire", snapshotExpire,
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |  o_orderdate, o_orderpriority
             |FROM orders WHERE o_orderstatus = 'O'
             |ORDER BY o_orderkey""".stripMargin)),
    Q("compact_files", compactFiles,
      Some("""SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
             |FROM customer ORDER BY c_custkey""".stripMargin)),
    Q("partition_overwrite", partitionOverwrite,
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus,
             |  CASE WHEN o_orderstatus = 'O' THEN o_totalprice * 2
             |       ELSE o_totalprice END AS o_totalprice,
             |  o_orderdate, o_orderpriority
             |FROM orders ORDER BY o_orderkey""".stripMargin)),
    Q("merge_upsert", mergeUpsert, Some(mergeUpsertSql)),
    Q("dq_audit", dqAudit, Some(dqAuditSql)),
    Q("mv_incremental", mvIncremental,
      Some(s"""SELECT o_custkey, count(*) AS n_orders,
              |  sum(${Ops.sqlCents("o_totalprice")}) / 100.0 AS total_price
              |FROM orders
              |WHERE o_orderkey % 10 = 0 OR o_orderkey % 7 <> 0
              |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),
    Q("mv_bucketed", mvBucketed,
      Some(s"""SELECT o_custkey, count(*) AS n_orders,
              |  sum(${Ops.sqlCents("o_totalprice")}) / 100.0 AS total_price
              |FROM orders
              |WHERE o_orderkey % 10 = 0 OR o_orderkey % 7 <> 0
              |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),
    Q("bloom_prune_join", bloomPruneJoin,
      Some(s"""SELECT s_suppkey, s_name,
              |  count(*) AS n_items,
              |  sum(${Ops.sqlCents("l_extendedprice")}) / 100.0 AS revenue
              |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
              |WHERE s_nationkey = 3
              |GROUP BY 1, 2 ORDER BY s_suppkey""".stripMargin)),
    Q("scd2_history", scd2History, Some(scd2HistorySql)),
    Q("time_travel", timeTravel,
      Some(s"""SELECT o_orderkey, o_custkey, price_cents FROM ($scd2HistorySql) h
              |WHERE valid_from <= 1 AND (valid_to IS NULL OR valid_to > 1)
              |ORDER BY o_orderkey""".stripMargin)),
    Q("mapfile_lookup", mapfileLookup,
      Some(s"""SELECT o_orderkey, o_custkey, ${Ops.sqlCents("o_totalprice")} AS price_cents
              |FROM orders WHERE o_orderkey = 7""".stripMargin)),
    Q("zorder_key", zorderKey,
      Some(s"""SELECT o_orderkey, o_orderkey % 1024 AS x, o_custkey % 1024 AS y,
              |  ${graft.ops.ZOrder.sqlZKey(10, "(o_orderkey % 1024)", "(o_custkey % 1024)")} AS zkey
              |FROM orders ORDER BY o_orderkey""".stripMargin)),
    Q("topk_per_group", topkPerGroup,
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, rank FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |    row_number() OVER (PARTITION BY o_custkey
             |      ORDER BY o_totalprice DESC, o_orderkey) AS rank
             |  FROM orders) t
             |WHERE rank <= 3 ORDER BY o_custkey, rank""".stripMargin)),
    Q("pipe_typedbytes_wc", pipeTypedBytesWc,
      Some("""SELECT w AS word, count(*) AS cnt
             |FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
             |WHERE w <> '' GROUP BY 1 ORDER BY word""".stripMargin)),
    // fs_key mirrors Spark's null-skipping array_join: out-of-range fields
    // vanish instead of nulling the whole concat (matters for rows shorter
    // than the spec, which a different SF could produce)
    Q("fieldsel", fieldsel,
      Some("""SELECT doc_id,
             |  array_to_string(list_filter([l[2], l[1]], x -> x IS NOT NULL), ' ') AS fs_key,
             |  array_to_string(l[3:5], ' ') AS fs_value
             |FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents) t
             |ORDER BY doc_id""".stripMargin)),
    Q("value_agg", valueAgg,
      Some("""SELECT event_type, CAST(sum(user_id) AS BIGINT) AS sum_uid, max(user_id) AS max_uid,
             |  min(user_id) AS min_uid, max(props) AS max_props,
             |  least(count(DISTINCT user_id), 50) AS uniq_uid_capped
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    Q("histogram", histogram,
      Some("""SELECT event_type, count(*) AS n_unique, min(freq) AS min_freq,
             |  median(freq) AS median_freq, max(freq) AS max_freq,
             |  CAST(sum(freq) AS DOUBLE)/count(*) AS avg_freq,
             |  CASE WHEN count(*) > 1 THEN
             |    sqrt((CAST(sum(freq*freq) AS DOUBLE)
             |          - CAST(sum(freq) AS DOUBLE)*CAST(sum(freq) AS DOUBLE)/count(*))
             |         / (count(*) - 1))
             |  ELSE 0.0 END AS stddev_freq
             |FROM (SELECT event_type, user_id, count(*) AS freq
             |      FROM events GROUP BY 1, 2) t
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),
    Q("keyfield_sort", keyfieldSort,
      Some("""SELECT doc_id, text FROM documents
             |ORDER BY split_part(text, ' ', 2) ASC, split_part(text, ' ', 1) DESC,
             |  doc_id""".stripMargin)),
    Q("composite_inner", compositeInner,
      Some("""SELECT c.nationkey, n_cust, n_supp
             |FROM (SELECT c_nationkey AS nationkey, count(*) AS n_cust
             |      FROM customer GROUP BY 1) c
             |JOIN (SELECT s_nationkey AS nationkey, count(*) AS n_supp
             |      FROM supplier GROUP BY 1) s USING (nationkey)
             |ORDER BY nationkey""".stripMargin)),
    Q("composite_override", compositeOverride,
      Some("""SELECT n_nationkey AS nationkey,
             |  COALESCE(u.v2, n.n_name) AS value
             |FROM nation n LEFT JOIN (
             |  SELECT c_nationkey, 'BIG:' || count(*) AS v2 FROM customer
             |  GROUP BY c_nationkey HAVING count(*) > 50) u
             |ON n.n_nationkey = u.c_nationkey
             |ORDER BY nationkey""".stripMargin)),
    Q("pipe_wordcount", pipeWordcount,
      Some("""SELECT upper(w) AS word, count(*) AS cnt
             |FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
             |WHERE w <> '' GROUP BY 1 ORDER BY word""".stripMargin)),
  )
}
