package graft.ops

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.io.api.Binary
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Predicate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Merge-on-read delete vectors: small parquet sidecars of
  * (`file`, `pos`) pairs, each naming one deleted row by its data file
  * and its position in that file, referenced by a version's `#dv=`
  * header lines.
  *
  * A vector is version metadata, so it is read the way the manifest is:
  * on the driver, once per read, into a map from the data file's
  * normalized path to its sorted deleted positions ([[positions]]). No
  * Spark job runs to read it. Both appliers take that map: the SQL row
  * scan walks it per file ([[graft.sources.v2.SnapshotRowScan]]), and a
  * DataFrame plan filters on [[subtract]]'s predicate. Both sides of
  * the match are normalized — the vector's and `_metadata.file_path`'s
  * URL spelling by [[Snapshots.normUrl]], a manifest line by
  * [[Snapshots.normPath]] — so a scheme or a `%20`-escaped space on one
  * side and not the other never hides a deleted row. */
object DeleteVectors {

  /** The one delete-vector schema. `file` is the data file as
    * `_metadata.file_path` spelled it when the vector was recorded. */
  val Schema: StructType = StructType(Seq(
    StructField("file", StringType), StructField("pos", LongType)))

  /** The vectors `dvs` as a typed frame: no footer inference. */
  def read(s: SparkSession, dvs: Seq[String]): DataFrame =
    s.read.schema(Schema).parquet(dvs: _*)

  /** Every entry of the vectors `dvs` whose normalized data-file path
    * passes `keep`, grouped by that path, positions sorted ascending.
    * Read on the driver with parquet's own file reader: one footer and
    * one pass per vector file, no Spark job and no broadcast (Spark's
    * file-format reader broadcasts the Hadoop configuration for its
    * tasks on every call, most of such a read's cost). Paths normalize
    * once per run of entries naming the same file, not once per entry. */
  def positions(s: SparkSession, dvs: Seq[String],
                keep: String => Boolean = _ => true): Map[String, Array[Long]] = {
    if (dvs.isEmpty) return Map.empty
    val conf = s.sessionState.newHadoopConf()
    val options = HadoopReadOptions.builder(conf).build()
    val byFile = mutable.HashMap.empty[String, mutable.ArrayBuilder.ofLong]
    dvs.distinct.foreach { dv =>
      val in = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(dv), conf), options)
      try {
        val schema = in.getFooter.getFileMetaData.getSchema
        val io = new ColumnIOFactory().getColumnIO(schema)
        var lastRaw: Binary = null
        var into: mutable.ArrayBuilder.ofLong = null
        var pages = in.readNextRowGroup()
        while (pages != null) {
          val rows = io.getRecordReader(pages, new GroupRecordConverter(schema))
          var i = 0L
          while (i < pages.getRowCount) {
            val g = rows.read()
            if (g.getFieldRepetitionCount("file") > 0 && g.getFieldRepetitionCount("pos") > 0) {
              val raw = g.getBinary("file", 0)
              if (!raw.equals(lastRaw)) {
                lastRaw = raw.copy()
                val n = Snapshots.normUrl(raw.toStringUsingUTF8)
                into = if (keep(n)) byFile.getOrElseUpdate(n, new mutable.ArrayBuilder.ofLong)
                  else null
              }
              if (into != null) into += g.getLong("pos", 0)
            }
            i += 1
          }
          pages = in.readNextRowGroup()
        }
      } finally in.close()
    }
    byFile.iterator.map { case (f, b) =>
      val a = b.result(); java.util.Arrays.sort(a); f -> a
    }.toMap
  }

  /** `df` minus the rows `dead` ([[positions]]) names, matched on the
    * data-file path column `path` and the position column `pos`. With
    * nothing to subtract `df` is returned untouched. */
  def subtract(df: DataFrame, dead: Map[String, Array[Long]],
               path: Column, pos: Column): DataFrame =
    if (dead.isEmpty) df
    else {
      import org.apache.spark.sql.graft.CatalystColumns.{column, expression}
      val bc = df.sparkSession.sparkContext.broadcast(dead)
      df.filter(column(NotDeleted(expression(path), expression(pos), bc)))
    }

  /** The per-partition probe of a broadcast position map. It keeps the
    * last path it saw with its positions, so a run of rows from one
    * file normalizes the path once; the pair is replaced as one object,
    * so a shared probe never answers with another file's positions. */
  final class Probe(dead: Broadcast[Map[String, Array[Long]]]) {
    private final class Last(val raw: UTF8String, val positions: Array[Long])
    private val map = dead.value
    private var last = new Last(null, Array.emptyLongArray)

    /** False when the row at (`path`, `pos`) is deleted. */
    def live(path: UTF8String, pos: Long): Boolean = {
      var l = last
      if (!path.equals(l.raw)) {
        l = new Last(path.clone(), map.getOrElse(
          Snapshots.normUrl(path.toString), Array.emptyLongArray))
        last = l
      }
      l.positions.length == 0 || java.util.Arrays.binarySearch(l.positions, pos) < 0
    }
  }

  /** True unless `dead` names the row at (`path`, `pos`); a null path or
    * position is never deleted. Generated code keeps one [[Probe]] per
    * generated-class instance. */
  private[graft] case class NotDeleted(path: Expression, pos: Expression,
                                       dead: Broadcast[Map[String, Array[Long]]])
      extends BinaryExpression with Predicate {
    override def left: Expression = path
    override def right: Expression = pos
    override def nullable: Boolean = false
    override def prettyName: String = "graft_dv_live"
    override def toString: String = s"$prettyName($path, $pos)"

    @transient private lazy val probe = new Probe(dead)

    override def eval(input: InternalRow): Any = {
      val p = path.eval(input)
      val r = pos.eval(input)
      p == null || r == null ||
        probe.live(p.asInstanceOf[UTF8String], r.asInstanceOf[Long])
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val probeClass = classOf[Probe].getName
      val bc = ctx.addReferenceObj("dvDead", dead, classOf[Broadcast[_]].getName)
      val p = ctx.addMutableState(probeClass, "dvProbe",
        v => s"$v = new $probeClass($bc);", forceInline = true)
      val pc = path.genCode(ctx)
      val rc = pos.genCode(ctx)
      ev.copy(code = code"""
        ${pc.code}
        ${rc.code}
        boolean ${ev.value} = ${pc.isNull} || ${rc.isNull} ||
          $p.live(${pc.value}, ${rc.value});""", isNull = FalseLiteral)
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): NotDeleted =
      copy(path = newLeft, pos = newRight)
  }
}
