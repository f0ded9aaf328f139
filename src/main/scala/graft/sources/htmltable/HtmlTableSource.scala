package graft.sources.htmltable

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** S1/S2 "production shape" (SURVEY.md §2.1): a DataSourceV2 that
  * reads saved HTML snapshots of the odds/scores sites as a TABLE —
  * `spark.read.format("odds-html").load(dir)` — one output row per
  * `<tr>` of the selected `<table>`, mirroring the reference's
  * BeautifulSoup loop (arbitrage_scanner.py:48-55: find('table'),
  * find_all('tr'), cells = th|td stripped text).
  *
  * Schema: (file STRING, row_no INT, cells ARRAY<STRING>). The
  * positional row/cell shape feeds pipeline.Normalize / Scores, which
  * already work ordinally. Options:
  *   - `tableIndex` (default 0): which <table> on the page;
  *   - path may be a single .html file or a directory of snapshots.
  *
  * Scale design: one InputPartition per snapshot file — fetch
  * snapshots land in object storage and parse in parallel across
  * executors; the driver only LISTS files. Parsing is regex-based
  * (no external HTML lib in this container); tags are stripped,
  * whitespace collapsed, and basic entities unescaped, matching
  * bs4's `.text.strip()` for table-shaped markup.
  */
class HtmlTableSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "odds-html"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    HtmlTableSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val path = Option(opts.get("path")).getOrElse(
      throw new IllegalArgumentException("odds-html: `path` option is required"))
    new HtmlTable(path, opts.getInt("tableIndex", 0))
  }
}

object HtmlTableSource {
  val schema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("row_no", IntegerType, nullable = false),
    StructField("cells", ArrayType(StringType, containsNull = false), nullable = false)))

  private val TableTagRe = "(?is)<(/?)table\\b[^>]*>".r
  private val RowRe = "(?is)<tr\\b[^>]*>(.*?)</tr>".r
  private val CellRe = "(?is)<t[hd]\\b[^>]*>(.*?)</t[hd]>".r

  /** Depth-aware TOP-LEVEL table bodies: a `<table>` nested inside a
    * cell stays part of its outer table's span (a non-greedy regex
    * would truncate the outer table at the inner close tag and break
    * `tableIndex` addressing). Rows of a nested table surface as rows
    * of the outer table, approximating BeautifulSoup's recursive
    * find_all('tr'). */
  private def tableBodies(html: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    var start = -1
    TableTagRe.findAllMatchIn(html).foreach { m =>
      if (m.group(1).isEmpty) {
        if (depth == 0) start = m.end
        depth += 1
      } else if (depth > 0) {
        depth -= 1
        if (depth == 0 && start >= 0) { out += html.substring(start, m.start); start = -1 }
      }
    }
    out.result()
  }

  private def unescape(s: String): String = s
    .replace("&nbsp;", " ").replace("&lt;", "<").replace("&gt;", ">")
    .replace("&quot;", "\"").replace("&#39;", "'").replace("&amp;", "&")

  /** Strip tags, unescape entities, collapse whitespace — bs4
    * `.text.strip()` parity for table cells. */
  def cellText(cellHtml: String): String =
    unescape(cellHtml.replaceAll("(?s)<[^>]*>", " "))
      .replaceAll("\\s+", " ").trim

  /** All top-level tables on the page, as rows of cell texts. Pure
    * function (unit-testable without Spark). */
  def parseTables(html: String): Seq[Seq[Seq[String]]] =
    tableBodies(html).map { body =>
      RowRe.findAllMatchIn(body).map { r =>
        CellRe.findAllMatchIn(r.group(1)).map(c => cellText(c.group(1))).toSeq
      }.toSeq
    }
}

class HtmlTable(path: String, tableIndex: Int) extends Table with SupportsRead {
  override def name(): String = s"odds-html:$path"
  override def schema(): StructType = HtmlTableSource.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan with Batch with SupportsPushDownRequiredColumns {
      // Column pruning: a projection that reads only (row_no, cells)
      // never materializes the file-path string per row (wide
      // snapshot dirs repeat it thousands of times), and a bare
      // count(*) materializes nothing at all.
      private var required: StructType = HtmlTableSource.schema
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      override def build(): Scan = this
      override def readSchema(): StructType = required
      override def toBatch: Batch = this
      override def description(): String = name()

      // the session's Hadoop conf (spark.hadoop.* — credentials,
      // object-store endpoints, default FS): a bare `new Configuration()`
      // would see classpath defaults only. Built once per scan; partition
      // planning reads it on the driver and readers get it through one
      // broadcast, as Spark's own file sources do.
      private lazy val hadoopConf: Configuration =
        org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()
      private lazy val sharedConf: Broadcast[SerializableConfiguration] =
        org.apache.spark.sql.SparkSession.active.sparkContext
          .broadcast(new SerializableConfiguration(hadoopConf))

      override def planInputPartitions(): Array[InputPartition] = {
        val p = new Path(path)
        val fs = FileSystem.get(p.toUri, hadoopConf)
        val files =
          if (fs.getFileStatus(p).isDirectory)
            fs.listStatus(p).filter(_.isFile).map(_.getPath)
              .filter(f => f.getName.endsWith(".html") || f.getName.endsWith(".htm"))
              .sortBy(_.toString)
          else Array(p)
        files.map(f => HtmlFilePartition(f.toString, tableIndex): InputPartition)
      }

      override def createReaderFactory(): PartitionReaderFactory =
        new HtmlPartitionReaderFactory(sharedConf, required.fieldNames)
    }
}

case class HtmlFilePartition(path: String, tableIndex: Int) extends InputPartition

class HtmlPartitionReaderFactory(hadoopConf: Broadcast[SerializableConfiguration],
                                 requiredFields: Array[String])
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[HtmlFilePartition]
    new PartitionReader[InternalRow] {
      private lazy val rows: Iterator[InternalRow] = {
        val fsPath = new Path(p.path)
        val fs = FileSystem.get(fsPath.toUri, hadoopConf.value.value)
        val in = fs.open(fsPath)
        val html =
          try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
          finally in.close()
        val tables = HtmlTableSource.parseTables(html)
        val table = if (p.tableIndex < tables.size) tables(p.tableIndex) else Seq.empty
        // one path UTF8String per FILE, not per row
        val pathStr = UTF8String.fromString(p.path)
        table.iterator.zipWithIndex.map { case (cells, i) =>
          // emit exactly the pruned schema, in its field order
          InternalRow(requiredFields.map {
            case "file" => pathStr
            case "row_no" => i
            case "cells" =>
              new GenericArrayData(cells.map(UTF8String.fromString).toArray)
          }.toIndexedSeq: _*)
        }
      }
      private var current: InternalRow = _
      override def next(): Boolean =
        if (rows.hasNext) { current = rows.next(); true } else false
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}
