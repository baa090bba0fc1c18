package graft.sources

import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

import graft.SparkTestBase
import graft.ops.Snapshots

/** SQL DDL + schema evolution on the snapshot catalog: CREATE TABLE
  * publishes an empty schema-bearing version (readable and INSERTable
  * before its first row), CTAS creates-then-appends, DROP TABLE removes
  * the directory, and appends may ADD columns (additive evolution —
  * manifest schema header, old files read the new column as null, type
  * changes rejected). The schema header also means catalog reads never
  * infer from parquet footers. */
class SnapshotDdlSpec extends SparkTestBase {

  private val root = "/tmp/graft-test/sqlddl"

  private def init(): Unit = {
    val p = new Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    spark.conf.set("spark.sql.catalog.sqlddl",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.sqlddl.root", root)
  }

  test("CREATE TABLE -> empty typed reads -> INSERT INTO -> DROP TABLE") {
    import spark.implicits._
    init()
    spark.sql("CREATE TABLE sqlddl.t_ddl (id BIGINT, v STRING)")
    // exists, empty, and TYPED before the first row — both routes
    assert(spark.sql("SELECT * FROM sqlddl.t_ddl").count() == 0)
    assert(Snapshots.read(spark, s"$root/t_ddl").schema.map(_.name).toSeq
      == Seq("id", "v"))
    intercept[Exception](spark.sql("CREATE TABLE sqlddl.t_ddl (x INT)"))
    spark.sql("INSERT INTO sqlddl.t_ddl VALUES (1, 'a'), (2, 'b')")
    assert(spark.sql("SELECT id FROM sqlddl.t_ddl").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L))
    spark.sql("DROP TABLE sqlddl.t_ddl")
    assert(Snapshots.latestVersion(spark, s"$root/t_ddl") == 0L)
    intercept[Exception](spark.sql("SELECT * FROM sqlddl.t_ddl").collect())
  }

  test("CREATE TABLE AS SELECT materializes the query as version 1+2") {
    import spark.implicits._
    init()
    Seq((1L, "x"), (2L, "y")).toDF("id", "v").createOrReplaceTempView("ctas_src")
    spark.sql("CREATE TABLE sqlddl.t_ctas AS SELECT * FROM ctas_src")
    assert(spark.sql("SELECT id, v FROM sqlddl.t_ctas")
      .as[(Long, String)].collect().sorted.toSeq == Seq((1L, "x"), (2L, "y")))
    assert(Snapshots.read(spark, s"$root/t_ctas").count() == 2)
  }

  test("ALTER TABLE ADD COLUMNS is a metadata-only commit") {
    import spark.implicits._
    init()
    val loc = s"$root/t_alter"
    Snapshots.commitAppend(Seq((1L, "a")).toDF("id", "v"), loc)
    val filesBefore = Snapshots.version(spark, loc, 1L).files
    spark.sql("ALTER TABLE sqlddl.t_alter ADD COLUMNS (score BIGINT)")
    assert(Snapshots.version(spark, loc, 2L).files == filesBefore,
      "ADD COLUMNS must not touch data files")
    assert(spark.sql("SELECT id, score FROM sqlddl.t_alter")
      .as[(Long, Option[Long])].collect().toSeq == Seq((1L, None)))
    spark.sql("INSERT INTO sqlddl.t_alter VALUES (2, 'b', 7)")
    assert(spark.sql("SELECT id, score FROM sqlddl.t_alter")
      .as[(Long, Option[Long])].collect().sortBy(_._1).toSeq
      == Seq((1L, None), (2L, Some(7L))))
    // existing column and rename both rejected
    intercept[Exception](
      spark.sql("ALTER TABLE sqlddl.t_alter ADD COLUMNS (id INT)"))
    intercept[Exception](
      spark.sql("ALTER TABLE sqlddl.t_alter RENAME COLUMN v TO w"))
    // a NOT NULL addition is rejected loudly, never silently coerced:
    // existing rows would read it as null, violating the declared constraint
    val e = intercept[Exception](
      spark.sql("ALTER TABLE sqlddl.t_alter ADD COLUMNS (rank BIGINT NOT NULL)"))
    assert(e.getMessage.contains("nullable") || Option(e.getCause)
      .exists(_.getMessage.contains("nullable")), s"wrong error: $e")
    assert(!spark.sql("SELECT * FROM sqlddl.t_alter").columns.contains("rank"))
  }

  test("rename/drop via migrate: new lineage-stamped table, pinned old readers unaffected") {
    import spark.implicits._
    init()
    val oldLoc = s"$root/t_old"
    val newLoc = s"$root/t_renamed"
    Snapshots.commitAppend(Seq((1L, "a", 9L)).toDF("id", "v", "tmp"), oldLoc)
    Snapshots.commitAppend(Seq((2L, "b", 8L)).toDF("id", "v", "tmp"), oldLoc)
    // the recipe: RENAME COLUMN v -> label, DROP COLUMN tmp as a
    // migration to a new table (in-place rename is rejected by design)
    Snapshots.migrate(spark, oldLoc, newLoc,
      _.withColumnRenamed("v", "label").drop("tmp"))
    assert(spark.sql("SELECT id, label FROM sqlddl.t_renamed")
      .as[(Long, String)].collect().sorted.toSeq == Seq((1L, "a"), (2L, "b")))
    // provenance recorded in the new table's v1 header
    assert(Snapshots.lineage(spark, newLoc).contains(s"$oldLoc@v2"))
    assert(Snapshots.lineage(spark, oldLoc).isEmpty)
    // every pinned version of the OLD table still reads its own schema
    assert(Snapshots.read(spark, oldLoc, 1).columns.toSeq == Seq("id", "v", "tmp"))
    assert(Snapshots.read(spark, oldLoc, 2).count() == 2)
    // the migrated table is a full-lifecycle table from birth: DML works
    spark.sql("UPDATE sqlddl.t_renamed SET label = 'B' WHERE id = 2")
    assert(spark.sql("SELECT label FROM sqlddl.t_renamed WHERE id = 2")
      .as[String].collect().toSeq == Seq("B"))
    // a second migrate into the same target refuses (no silent overwrite)
    intercept[IllegalArgumentException](
      Snapshots.migrate(spark, oldLoc, newLoc, identity))
  }

  test("additive evolution: appends may add columns; old rows read them as null") {
    import spark.implicits._
    init()
    val loc = s"$root/t_evolve"
    Snapshots.commitAppend(Seq((1L, "a")).toDF("id", "v"), loc)
    // widen: a new nullable column arrives with an append
    Snapshots.commitAppend(
      Seq((2L, "b", Some(9L))).toDF("id", "v", "score"), loc)
    val rows = Snapshots.read(spark, loc)
      .select("id", "v", "score").as[(Long, String, Option[Long])]
      .collect().sortBy(_._1).toSeq
    assert(rows == Seq((1L, "a", None), (2L, "b", Some(9L))),
      s"old rows must read the added column as null: $rows")
    // the SQL catalog sees the evolved schema without footer inference
    assert(spark.sql("SELECT score FROM sqlddl.t_evolve WHERE id = 2")
      .as[Option[Long]].collect().toSeq == Seq(Some(9L)))
    // pinned history keeps ITS schema
    assert(Snapshots.read(spark, loc, 1).columns.toSeq == Seq("id", "v"))
    // type changes are rejected, not coerced
    intercept[IllegalArgumentException](Snapshots.commitAppend(
      Seq(("3", "c")).toDF("id", "v"), loc))
    // DML after evolution rewrites old files under the evolved schema
    Snapshots.commitUpdate(spark, loc, col("id") === 1L,
      Map("score" -> lit(5L)))
    assert(Snapshots.read(spark, loc).select("id", "score")
      .as[(Long, Option[Long])].collect().sortBy(_._1).toSeq
      == Seq((1L, Some(5L)), (2L, Some(9L))))
    // and the change feed expresses deltas in the destination schema
    val feed = Snapshots.changeFeed(spark, loc, 0)
    assert(feed.columns.contains("score"))
    assert(feed.filter(col("change") === "insert").count() >= 3)
  }

  test("ADD COLUMN DEFAULT: history reads the constant, inserts fill it, no rewrite") {
    import spark.implicits._
    init()
    spark.sql("CREATE TABLE sqlddl.t_def (id BIGINT, v STRING)")
    spark.sql("INSERT INTO sqlddl.t_def VALUES (1, 'a'), (2, 'b')")
    val loc = s"$root/t_def"
    val before = Snapshots.version(spark, loc,
      Snapshots.latestVersion(spark, loc)).files.toSet
    spark.sql("ALTER TABLE sqlddl.t_def ADD COLUMN src STRING DEFAULT 'legacy'")
    // metadata-only: same data files, one more version
    assert(Snapshots.version(spark, loc,
      Snapshots.latestVersion(spark, loc)).files.toSet == before)
    // (a) rows predating the column read the add-time constant
    assert(spark.sql("SELECT src FROM sqlddl.t_def WHERE id = 1")
      .as[String].head() == "legacy")
    // (b) INSERT omitting the column analyzer-fills CURRENT_DEFAULT...
    spark.sql("INSERT INTO sqlddl.t_def (id, v) VALUES (3, 'c')")
    // ...and naming it wins
    spark.sql("INSERT INTO sqlddl.t_def VALUES (4, 'd', 'fresh')")
    val got = spark.sql("SELECT id, src FROM sqlddl.t_def")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "legacy"), (2L, "legacy"),
      (3L, "legacy"), (4L, "fresh")), got.toString)
    // pinned pre-evolution history is untouched (no src column at all)
    assert(!Snapshots.read(spark, loc, 2).columns.contains("src"))
  }

  test("NOT NULL column additions: sound with a DEFAULT, rejected without") {
    import spark.implicits._
    init()
    spark.sql("CREATE TABLE sqlddl.t_nn (id BIGINT)")
    spark.sql("INSERT INTO sqlddl.t_nn VALUES (1), (2)")
    val e = intercept[Exception](
      spark.sql("ALTER TABLE sqlddl.t_nn ADD COLUMN bad INT NOT NULL"))
    def msgs(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + msgs(t.getCause)
    assert(msgs(e).contains("DEFAULT"), msgs(e))
    spark.sql("ALTER TABLE sqlddl.t_nn ADD COLUMN n INT NOT NULL DEFAULT 7")
    val sch = spark.table("sqlddl.t_nn").schema
    assert(!sch("n").nullable)
    assert(spark.sql("SELECT id, n FROM sqlddl.t_nn")
      .as[(Long, Int)].collect().sortBy(_._1).toSeq
      == Seq((1L, 7), (2L, 7)))
  }

  test("API append refuses a nullable batch into a NOT NULL header column") {
    import spark.implicits._
    init()
    spark.sql("CREATE TABLE sqlddl.t_nnap (id BIGINT NOT NULL, v STRING)")
    spark.sql("INSERT INTO sqlddl.t_nnap VALUES (1, 'a')")
    val loc = s"$root/t_nnap"
    assert(!Snapshots.version(spark, loc,
      Snapshots.latestVersion(spark, loc)).schema.get("id").nullable)
    // a parquet-read batch reports nullable even when it holds no nulls:
    // silently widening would permanently erase the DDL-declared NOT NULL
    // (and the null-check elision the optimizer plans on) — refused, the
    // same rule as appendBucketed
    val batch = Seq((2L, "b")).toDF("id", "v")
      .withColumn("id", when(col("v").isNotNull, col("id"))) // force nullable
    val e = intercept[IllegalArgumentException](
      Snapshots.commitAppend(batch, loc))
    assert(e.getMessage.contains("NOT NULL"), e.getMessage)
    // header unchanged, SQL path (runtime null check) still works
    assert(!Snapshots.version(spark, loc,
      Snapshots.latestVersion(spark, loc)).schema.get("id").nullable)
    spark.sql("INSERT INTO sqlddl.t_nnap VALUES (2, 'b')")
    assert(spark.table("sqlddl.t_nnap").count() == 2L)
  }

  test("SET/DROP DEFAULT: current default moves, existence default stays frozen") {
    import spark.implicits._
    init()
    spark.sql("CREATE TABLE sqlddl.t_sdef (id BIGINT, v STRING)")
    spark.sql("INSERT INTO sqlddl.t_sdef VALUES (1, 'a')")
    spark.sql("ALTER TABLE sqlddl.t_sdef ADD COLUMN src STRING DEFAULT 'legacy'")
    spark.sql("ALTER TABLE sqlddl.t_sdef ALTER COLUMN src SET DEFAULT 'v2'")
    // future inserts omitting the column fill the NEW current default...
    spark.sql("INSERT INTO sqlddl.t_sdef (id, v) VALUES (2, 'b')")
    // ...while rows that PREDATE the column still read the add-time
    // constant (EXISTS_DEFAULT frozen — history does not rewrite)
    val got = spark.sql("SELECT id, src FROM sqlddl.t_sdef")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "legacy"), (2L, "v2")), got.toString)
    // a pure metadata commit: same files across the SET DEFAULT version
    val loc = s"$root/t_sdef"
    spark.sql("ALTER TABLE sqlddl.t_sdef ALTER COLUMN src DROP DEFAULT")
    val sch = spark.table("sqlddl.t_sdef").schema
    assert(!sch("src").metadata.contains("CURRENT_DEFAULT"))
    assert(sch("src").metadata.contains("EXISTS_DEFAULT"))
    // with no current default, naming the column still works
    spark.sql("INSERT INTO sqlddl.t_sdef VALUES (3, 'c', 'explicit')")
    assert(spark.sql("SELECT src FROM sqlddl.t_sdef WHERE id = 3")
      .as[String].head() == "explicit")
    assert(Snapshots.latestVersion(spark, loc) >= 5L)
  }

  test("CREATE TABLE with DEFAULT columns: INSERT omitting them fills the default") {
    import spark.implicits._
    init()
    spark.sql("""CREATE TABLE sqlddl.t_cdef
                |  (id BIGINT, q DOUBLE DEFAULT 1.5, tag STRING DEFAULT 'none')""".stripMargin)
    spark.sql("INSERT INTO sqlddl.t_cdef (id) VALUES (1)")
    spark.sql("INSERT INTO sqlddl.t_cdef VALUES (2, 2.5, 'set')")
    val got = spark.sql("SELECT id, q, tag FROM sqlddl.t_cdef")
      .as[(Long, Double, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 1.5, "none"), (2L, 2.5, "set")), got.toString)
  }

  test("persisted views: CREATE/read/REPLACE/DROP, aliases, late binding") {
    import spark.implicits._
    init()
    spark.sql("CREATE TABLE sqlddl.t_vbase (id BIGINT, v STRING)")
    spark.sql("INSERT INTO sqlddl.t_vbase VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql("""CREATE VIEW sqlddl.v_even AS
                |SELECT id, upper(v) AS uv FROM sqlddl.t_vbase
                |WHERE id % 2 = 0""".stripMargin)
    assert(spark.sql("SELECT * FROM sqlddl.v_even").as[(Long, String)]
      .collect().toSeq == Seq((2L, "B")))
    // the definition persists as a metadata object, not session state
    assert(graft.ops.Views.exists(spark, s"$root/v_even"))
    // late binding: new base rows flow through without any view refresh
    spark.sql("INSERT INTO sqlddl.t_vbase VALUES (4, 'd')")
    assert(spark.sql("SELECT count(*) FROM sqlddl.v_even").head().getLong(0) == 2)
    // a second CREATE refuses; IF NOT EXISTS no-ops; OR REPLACE re-points
    intercept[Exception](
      spark.sql("CREATE VIEW sqlddl.v_even AS SELECT 1 AS one"))
    spark.sql("CREATE VIEW IF NOT EXISTS sqlddl.v_even AS SELECT 1 AS one")
    assert(spark.sql("SELECT count(*) FROM sqlddl.v_even").head().getLong(0) == 2)
    spark.sql("""CREATE OR REPLACE VIEW sqlddl.v_even (k, shout) AS
                |SELECT id, concat(v, '!') FROM sqlddl.t_vbase
                |WHERE id > 2""".stripMargin)
    assert(spark.sql("SELECT k, shout FROM sqlddl.v_even ORDER BY k")
      .as[(Long, String)].collect().toSeq == Seq((3L, "c!"), (4L, "d!")))
    // nested: a view over a view
    spark.sql("""CREATE VIEW sqlddl.v_top AS
                |SELECT k FROM sqlddl.v_even WHERE k = 4""".stripMargin)
    assert(spark.sql("SELECT * FROM sqlddl.v_top").as[Long]
      .collect().toSeq == Seq(4L))
    // an invalid query fails the CREATE, not the first read
    intercept[Exception](spark.sql(
      "CREATE VIEW sqlddl.v_bad AS SELECT nope FROM sqlddl.t_vbase"))
    assert(!graft.ops.Views.exists(spark, s"$root/v_bad"))
    // name conflicts refuse in both directions
    intercept[Exception](spark.sql(
      "CREATE VIEW sqlddl.t_vbase AS SELECT 1 AS one"))
    intercept[Exception](spark.sql(
      "CREATE TABLE sqlddl.v_even (x INT)"))
    // DROP: gone for reads; IF EXISTS tolerates absence
    spark.sql("DROP VIEW sqlddl.v_top")
    intercept[Exception](spark.sql("SELECT * FROM sqlddl.v_top").collect())
    intercept[Exception](spark.sql("DROP VIEW sqlddl.v_top"))
    spark.sql("DROP VIEW IF EXISTS sqlddl.v_top")
    // SHOW VIEWS lists the catalog's persisted views (pattern = Spark's
    // SHOW glob: '*' any chars, '|' alternation, case-insensitive)
    val shown = spark.sql("SHOW VIEWS IN sqlddl").collect()
      .map(_.getString(1)).toSeq
    assert(shown == Seq("v_even"), s"SHOW VIEWS: $shown")
    assert(spark.sql("SHOW VIEWS IN sqlddl LIKE 'V_E*'").count() == 1)
    assert(spark.sql("SHOW VIEWS IN sqlddl LIKE 'nope|zz*'").count() == 0)
    // session-catalog view DDL still routes to Spark untouched
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW graft_tmp_v AS SELECT 7 AS x")
    assert(spark.sql("SELECT x FROM graft_tmp_v").head().getInt(0) == 7)
    assert(spark.sql("SHOW VIEWS").collect()
      .exists(_.getString(1) == "graft_tmp_v"))
  }

  test("a view cannot shadow a namespace; DROP VIEW never touches foreign content") {
    import spark.implicits._
    init()
    // a namespace directory with a child table must refuse a view at
    // its own name — a later DROP VIEW could otherwise take the
    // children down with it (the data-loss class this guard closes)
    Snapshots.commitAppend(Seq((1L, "a")).toDF("id", "v"), s"$root/nsg/t1")
    val e = intercept[Exception](
      spark.sql("CREATE VIEW sqlddl.nsg AS SELECT 1 AS one"))
    assert(e.getMessage.contains("namespace") ||
      e.getMessage.contains("foreign"), e.getMessage)
    assert(Snapshots.read(spark, s"$root/nsg/t1").count() == 1)
    // foreign content that lands NEXT TO an existing view survives the
    // view's drop: DROP deletes only the _view subtree it owns
    spark.sql("CREATE VIEW sqlddl.v_guard AS SELECT 2 AS two")
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stray = new Path(s"$root/v_guard/keepme.txt")
    val out = fs.create(stray, true)
    try out.write("precious".getBytes("UTF-8")) finally out.close()
    spark.sql("DROP VIEW sqlddl.v_guard")
    assert(fs.exists(stray), "DROP VIEW must not delete foreign files")
    assert(!graft.ops.Views.exists(spark, s"$root/v_guard"))
    // and a dropped view with no neighbors leaves no empty husk
    spark.sql("CREATE VIEW sqlddl.v_clean AS SELECT 3 AS three")
    spark.sql("DROP VIEW sqlddl.v_clean")
    assert(!fs.exists(new Path(s"$root/v_clean")))
    // WIDE reuse is legitimate: one view referenced from 20 sibling
    // branches must not trip the recursion guard (self-nesting only)
    spark.sql("CREATE VIEW sqlddl.v_leaf AS SELECT 1 AS x")
    val wide = (1 to 20).map(_ => "SELECT x FROM sqlddl.v_leaf")
      .mkString(" UNION ALL ")
    assert(spark.sql(wide).count() == 20)
  }

  test("a view over a time-travel read stays pinned") {
    import spark.implicits._
    init()
    spark.sql("CREATE TABLE sqlddl.t_vtt (id BIGINT)")
    spark.sql("INSERT INTO sqlddl.t_vtt VALUES (1), (2)") // v2
    spark.sql("""CREATE VIEW sqlddl.v_pinned AS
                |SELECT id FROM sqlddl.t_vtt VERSION AS OF 2""".stripMargin)
    spark.sql("INSERT INTO sqlddl.t_vtt VALUES (3)") // v3
    // the pin is IN the text: the view keeps reading version 2
    assert(spark.sql("SELECT id FROM sqlddl.v_pinned ORDER BY id").as[Long]
      .collect().toSeq == Seq(1L, 2L))
    assert(spark.sql("SELECT count(*) FROM sqlddl.t_vtt").head().getLong(0) == 3)
  }
}
