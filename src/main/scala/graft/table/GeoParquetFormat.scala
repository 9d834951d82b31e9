package graft.table

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.Job
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.ParquetOutputFormat
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.io.api.RecordConsumer
import org.apache.parquet.schema.PrimitiveType
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetWriteSupport}
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType, StructType}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import graft.meta.{Footer, GeoMeta, SpatialPartitioning}

/** Spark's Parquet format, writing GeoParquet in the same pass: each
  * file's footer gets `geo` (with that file's covering bbox) and, for a
  * spatially partitioned layout, `graft:partitioning`, as Spark writes
  * it. So no writer reads its output back to rewrite it (the reference
  * also attaches `geo` in the write itself, `core/common.py:1540-1657`).
  *
  * A write names the footer through two write options:
  * [[GeoOption]] (the `geo` JSON every file declares, before its own
  * bbox) and [[PartitioningOption]]. Without them it is Spark's Parquet
  * write.
  */
class GeoParquetFormat extends ParquetFileFormat {
  override def prepareWrite(sparkSession: SparkSession, job: Job,
      options: Map[String, String], dataSchema: StructType): OutputWriterFactory = {
    val factory = super.prepareWrite(sparkSession, job, options, dataSchema)
    job.getConfiguration.setClass(ParquetOutputFormat.WRITE_SUPPORT_CLASS,
      classOf[GeoWriteSupport], classOf[WriteSupport[_]])
    factory
  }
}

object GeoParquetFormat {
  /** Write option: the `geo` JSON of the files a write produces. */
  private[graft] val GeoOption = "graft.footer.geo"
  /** Write option: the `graft:partitioning` JSON of a partitioned layout. */
  private[graft] val PartitioningOption = "graft.footer.partitioning"

  private[table] val Corners = Seq("xmin", "ymin", "xmax", "ymax")
}

/** Spark's Parquet write support, plus the GeoParquet footer keys its
  * file gets from [[finalizeWrite]]. One instance writes one file. The
  * covering bbox is folded from the rows it writes, row group by row
  * group, with parquet's own statistics for each corner field's type
  * read back as the footer reader sees them ([[Footer.asRead]]) and
  * combined by [[Footer.spannedBbox]], so a file declares exactly the
  * bbox its row-group statistics span.
  */
class GeoWriteSupport extends ParquetWriteSupport {
  private var footer = Map.empty[String, String]
  private var geo: Option[GeoMeta] = None
  private var covering: Option[CoveringFold] = None

  override def init(conf: Configuration): WriteSupport.WriteContext = {
    val ctx = super.init(conf)
    footer = Option(conf.get(GeoParquetFormat.PartitioningOption))
      .map(SpatialPartitioning.FooterKey -> _).toMap
    Option(conf.get(GeoParquetFormat.GeoOption)).foreach { json =>
      footer += GeoMeta.FooterKey -> json
      val gm = GeoMeta.fromJson(json)
      gm.primary.flatMap(_.coveringBbox).foreach { b =>
        geo = Some(gm)
        covering = CoveringFold(
          DataType.fromJson(conf.get(ParquetWriteSupport.SPARK_ROW_SCHEMA))
            .asInstanceOf[StructType], b,
          f => ctx.getSchema.getColumnDescription(Array(b, f)).getPrimitiveType)
      }
    }
    ctx
  }

  /** Parquet calls this at the start of every row group. */
  override def prepareForWrite(recordConsumer: RecordConsumer): Unit = {
    super.prepareForWrite(recordConsumer)
    covering.foreach(_.endGroup())
  }

  override def write(row: InternalRow): Unit = {
    super.write(row)
    covering.foreach(_.add(row))
  }

  override def finalizeWrite(): WriteSupport.FinalizedWriteContext = {
    // a covered file's `geo` declares its own bbox; None when a corner
    // has no statistic, as the footer pass it replaces declared it
    val perFile = geo.map { gm =>
      val bb = covering.flatMap { c => c.endGroup(); c.bbox }
      GeoMeta.FooterKey -> GeoMeta.toJson(gm.copy(columns = gm.columns.map { case (n, c) =>
        if (n == gm.primaryColumn) n -> c.copy(bbox = bb) else n -> c
      }))
    }
    new WriteSupport.FinalizedWriteContext(
      (super.finalizeWrite().getExtraMetaData.asScala.toMap ++ footer ++ perFile).asJava)
  }
}

/** The running min/max statistics of the four corner fields of a
  * covering struct: the struct's ordinal and width in the written row,
  * each corner's field ordinal, whether it is FLOAT, and its Parquet type.
  */
private[table] final class CoveringFold(ord: Int, width: Int, fields: Array[Int],
    float: Array[Boolean], types: Array[PrimitiveType]) {
  private def fresh(): Array[Statistics[_]] = types.map(t => Statistics.createStats(t))
  private var stats = fresh()
  private var rows = 0L
  /** (min, max) of each corner field, per finished row group. */
  private val groups = ArrayBuffer[Map[String, (Option[Any], Option[Any])]]()

  def add(row: InternalRow): Unit = {
    rows += 1
    if (!row.isNullAt(ord)) {
      val s = row.getStruct(ord, width)
      var i = 0
      while (i < 4) {
        val f = fields(i)
        if (!s.isNullAt(f)) {
          if (float(i)) stats(i).updateStats(s.getFloat(f))
          else stats(i).updateStats(s.getDouble(f))
        }
        i += 1
      }
    }
  }

  def endGroup(): Unit = if (rows > 0) {
    groups += GeoParquetFormat.Corners.indices.map { i =>
      GeoParquetFormat.Corners(i) -> Footer.minMax(Some(Footer.asRead(stats(i), types(i))))
    }.toMap
    stats = fresh()
    rows = 0
  }

  def bbox: Option[(Double, Double, Double, Double)] =
    Footer.spannedBbox(groups.toSeq.map(g => (corner: String, isMin: Boolean) =>
      g.get(corner).flatMap(mm => if (isMin) mm._1 else mm._2)))
}

private[table] object CoveringFold {
  /** The fold for covering column `b` of `schema`; None unless it is a
    * struct whose four corners are FLOAT or DOUBLE fields (the footer
    * pass found no bbox in any other covering either).
    */
  def apply(schema: StructType, b: String,
      parquetType: String => PrimitiveType): Option[CoveringFold] =
    schema.fields.indexWhere(_.name == b) match {
      case -1 => None
      case ord => schema(ord).dataType match {
        case st: StructType =>
          val fs = GeoParquetFormat.Corners.map(c => st.fieldNames.indexOf(c))
          if (fs.exists(f => f < 0 || !(st(f).dataType == FloatType ||
              st(f).dataType == DoubleType))) None
          else Some(new CoveringFold(ord, st.size, fs.toArray,
            fs.map(st(_).dataType == FloatType).toArray,
            GeoParquetFormat.Corners.map(parquetType).toArray))
        case _ => None
      }
    }
}
