package graft.index

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.conf.HadoopParquetConfiguration
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate, Operators}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter, RecordMaterializer}
import org.apache.parquet.schema.{GroupType, LogicalTypeAnnotation, MessageType, Type}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.util.SerializableConfiguration

/** Footer-indexed Parquet POINT reads: per-key row lookups in a Parquet
  * table with no Spark job. The table's data files are listed once, on
  * first use, each with the min/max of the key column over its row
  * groups — footer metadata only. A lookup opens just the files whose
  * range covers a requested key; inside a file the row-group statistics,
  * the page column index and a record filter (`key IN keys`) narrow the
  * read to the matching rows. Partition elimination by precomputed range
  * summaries: over the term-range-partitioned, term-sorted dictionary a
  * query's terms resolve to one file and a few pages.
  *
  * Serializable, so a Spark task can read its own key: [[covering]] gives
  * a reader whose listing is already resolved on the driver and ships
  * with it; the Hadoop configuration rides a broadcast. Every
  * read builds its own `ParquetReadOptions` — and so its own codec
  * factory — from that configuration: `ParquetReader.builder` copies the
  * whole configuration per call, and one shared codec factory corrupts
  * decompression under concurrent reads.
  *
  * Supported column shapes, as [[PointRow]] values:
  *   - top-level primitives, boxed; a string-annotated BINARY as a
  *     `String`, an un-annotated BINARY as its `Array[Byte]`;
  *   - LISTs of INT32/INT64/DOUBLE/string as primitive arrays (the
  *     dictionary's `buckets`, doclens' `docIds`/`lens`);
  *   - LISTs of structs of primitives as `Array[PointRow]` (the segment
  *     and position blocks, `EncBlock`/`PosBlock`).
  * Partition columns are not in the files: the caller that picked the
  * partition directory supplies their values.
  */
private[index] final class ParquetPointReader[K] private (
    path: String,
    keyCol: String,
    conf: Broadcast[SerializableConfiguration],
    listed: Option[Array[ParquetPointReader.PointFile[K]]])(implicit key: PointKey[K])
  extends Serializable {
  import ParquetPointReader._

  def this(path: String, keyCol: String, conf: Broadcast[SerializableConfiguration])(
      implicit key: PointKey[K]) = this(path, keyCol, conf, None)

  @transient private lazy val files: Array[PointFile[K]] = listed.getOrElse(list())

  /** Column names of the table's schema (empty when it holds no rows). */
  @transient lazy val columns: Set[String] =
    files.headOption.map(f => footer(f).getFileMetaData.getSchema.getFields.asScala
      .map(_.getName).toSet).getOrElse(Set.empty)

  /** A reader restricted to the files that may hold one of `keys`, with
    * its listing resolved — what a task closure carries.
    */
  def covering(keys: Iterable[K]): ParquetPointReader[K] =
    new ParquetPointReader(path, keyCol, conf, Some(files.filter(f => keys.exists(f.covers))))

  /** Every row whose key is one of `keys`, mapped through `row`, in file
    * order.
    */
  def read[T](keys: Iterable[K])(row: PointRow => T): Seq[T] = {
    val ks = keys.toSeq.distinct
    scan(files.iterator.map(f => f -> ks.filter(f.covers)).collect {
      case (f, mine) if mine.nonEmpty => f -> FilterCompat.get(key.predicate(keyCol, mine))
    })(row)
  }

  /** The first `limit` rows, mapped through `row`, that `keep` accepts
    * among those whose key k has `lo ≤ k < hiExclusive`. Footer ranges
    * choose the files; the page index and a `gtEq/lt` record filter
    * narrow the rows. Files with disjoint ranges (a range-partitioned,
    * key-sorted table, as the dictionary is written) are read in key
    * order, and the read stops at the `limit`-th kept row; otherwise
    * every kept row is read, in file order, for the caller to sort.
    */
  def readRange[T](lo: K, hiExclusive: K, limit: Int)(row: PointRow => T)(
      keep: T => Boolean): Seq[T] = {
    val filter = FilterCompat.get(key.range(keyCol, lo, hiExclusive))
    val overlapping = files.filter(_.overlaps(lo, hiExclusive))
    val ranged = overlapping.flatMap(f => f.range.map(f -> _)).sortBy(_._2._1)(key)
    val ordered = ranged.length == overlapping.length &&
      ranged.zip(ranged.drop(1)).forall { case ((_, (_, max)), (_, (min, _))) => key.lt(max, min) }
    if (ordered) scan(ranged.iterator.map(_._1 -> filter))(row, keep, limit)
    else scan(overlapping.iterator.map(_ -> filter))(row, keep)
  }

  /** Every row of the table, mapped through `row`, in file order. */
  def readAll[T](row: PointRow => T): Seq[T] =
    scan(files.iterator.map(_ -> FilterCompat.NOOP))(row)

  private def scan[T](reads: Iterator[(PointFile[K], FilterCompat.Filter)])(
      row: PointRow => T, keep: T => Boolean = (_: T) => true, limit: Int = Int.MaxValue): Seq[T] = {
    val out = mutable.ArrayBuffer.empty[T]
    for ((f, filter) <- reads if out.size < limit) {
      val reader = open(f, filter)
      try {
        val schema = reader.getFooter.getFileMetaData.getSchema
        val names = schema.getFields.asScala.map(_.getName).zipWithIndex.toMap
        val io = new ColumnIOFactory().getColumnIO(schema)
        var pages = reader.readNextFilteredRowGroup()
        while (pages != null) {
          val records = io.getRecordReader(pages, new RowMaterializer(schema), filter)
          var i = 0L
          while (i < pages.getRowCount && out.size < limit) {
            val r = records.read()
            if (r != null && !records.shouldSkipCurrentRecord)
              Some(row(new PointRow(names, r))).filter(keep).foreach(out += _)
            i += 1
          }
          pages = if (out.size < limit) reader.readNextFilteredRowGroup() else null
        }
      } finally reader.close()
    }
    out.toSeq
  }

  private def open(f: PointFile[K], filter: FilterCompat.Filter): ParquetFileReader = {
    val c = conf.value.value
    val options = ParquetReadOptions.builder(new HadoopParquetConfiguration(c))
      .withRecordFilter(filter).build()
    ParquetFileReader.open(HadoopInputFile.fromStatus(f.status, c), options)
  }

  private def footer(f: PointFile[K]) = {
    val r = open(f, FilterCompat.NOOP)
    try r.getFooter finally r.close()
  }

  private def list(): Array[PointFile[K]] = {
    val c = conf.value.value
    val dir = new Path(path)
    val fs = dir.getFileSystem(c)
    if (!fs.exists(dir)) return Array.empty
    fs.listStatus(dir)
      .filter { s =>
        val n = s.getPath.getName
        s.isFile && n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }
      .sortBy(_.getPath.getName)
      .flatMap { s =>
        val file = PointFile[K](s.getPath.toString, s.getLen, None)
        val ranges = footer(file).getBlocks.asScala.filter(_.getRowCount > 0).map { b =>
          b.getColumns.asScala.find(_.getPath.toDotString == keyCol).map(_.getStatistics)
            .filter(st => st != null && !st.isEmpty && st.hasNonNullValue)
            .map(st => (key.fromStat(st.genericGetMin), key.fromStat(st.genericGetMax)))
        }
        // a file with no rows holds no key; a row group without key
        // statistics leaves its file unbounded (always read)
        if (ranges.isEmpty) None
        else if (ranges.exists(_.isEmpty)) Some(file)
        else Some(file.copy(range = Some(ranges.flatten.reduce { (a, b) =>
          (if (key.compare(a._1, b._1) <= 0) a._1 else b._1,
            if (key.compare(a._2, b._2) >= 0) a._2 else b._2)
        })))
      }
  }
}

private[index] object ParquetPointReader {

  /** One data file and the key range its footer covers (None: unknown,
    * always read).
    */
  final case class PointFile[K](path: String, length: Long, range: Option[(K, K)])(
      implicit key: PointKey[K]) {
    def covers(k: K): Boolean =
      range.forall { case (lo, hi) => key.compare(lo, k) <= 0 && key.compare(k, hi) <= 0 }
    def overlaps(lo: K, hiExclusive: K): Boolean =
      range.forall { case (min, max) =>
        key.compare(min, hiExclusive) < 0 && key.compare(lo, max) <= 0 }
    def status: FileStatus = new FileStatus(length, false, 0, 0L, 0L, new Path(path))
  }

  /** Materializes one record: top-level primitives boxed, LISTs of
    * primitives as primitive arrays, LISTs of structs as arrays of
    * [[PointRow]]s.
    */
  private final class RowMaterializer(schema: MessageType) extends RecordMaterializer[Array[Any]] {
    private val n = schema.getFieldCount
    private var current: Array[Any] = _
    private val lists = mutable.ArrayBuffer.empty[(Int, ListBuf)]
    private val root: GroupConverter = new GroupConverter {
      private val children: Array[Converter] = Array.tabulate(n)(i => field(schema.getType(i), i))
      override def getConverter(i: Int): Converter = children(i)
      override def start(): Unit = {
        current = new Array[Any](n)
        lists.foreach(_._2.clear())
      }
      override def end(): Unit = lists.foreach { case (i, l) => current(i) = l.result() }
    }

    private def field(t: Type, i: Int): Converter =
      if (t.isPrimitive) primitive(t, v => current(i) = v)
      else {
        // LIST → repeated group → element (3-level), or the repeated
        // field is the element itself (2-level)
        val repeated = only(t.asGroupType)
        val elem =
          if (!repeated.isPrimitive && repeated.asGroupType.getFieldCount == 1)
            repeated.asGroupType.getType(0)
          else repeated
        val buf = if (elem.isPrimitive) ListLeaf(elem) else new StructList(elem.asGroupType)
        lists += i -> buf
        val inner = if (elem eq repeated) buf else wrap(buf)
        wrap(inner)
      }

    override def getCurrentRecord: Array[Any] = current
    override def getRootConverter: GroupConverter = root
  }

  private def only(g: GroupType): Type = {
    if (g.getFieldCount != 1)
      throw new UnsupportedOperationException(
        s"point reads support primitives and lists of primitives or structs, got $g")
    g.getType(0)
  }

  /** A group level that only passes its one child through. */
  private def wrap(child: Converter): GroupConverter = new GroupConverter {
    override def getConverter(i: Int): Converter = child
    override def start(): Unit = ()
    override def end(): Unit = ()
  }

  private def isString(t: Type): Boolean =
    t.getLogicalTypeAnnotation.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]

  /** One boxed primitive: a string-annotated BINARY as a `String`, an
    * un-annotated one as its `Array[Byte]`.
    */
  private def primitive(t: Type, set: Any => Unit): PrimitiveConverter = {
    val str = isString(t)
    new PrimitiveConverter {
      override def addInt(v: Int): Unit = set(v)
      override def addLong(v: Long): Unit = set(v)
      override def addDouble(v: Double): Unit = set(v)
      override def addFloat(v: Float): Unit = set(v)
      override def addBoolean(v: Boolean): Unit = set(v)
      override def addBinary(v: Binary): Unit = set(if (str) v.toStringUsingUTF8 else v.getBytes)
    }
  }

  /** The values of one LIST column within the current record. */
  private trait ListBuf extends Converter {
    def clear(): Unit
    def result(): Any
  }

  /** A LIST of structs of primitives: one [[PointRow]] per element. */
  private final class StructList(g: GroupType) extends GroupConverter with ListBuf {
    private val names = g.getFields.asScala.map(_.getName).zipWithIndex.toMap
    private val b = mutable.ArrayBuffer.empty[PointRow]
    private var cur: Array[Any] = _
    private val children: Array[Converter] = Array.tabulate(g.getFieldCount) { i =>
      val t = g.getType(i)
      if (!t.isPrimitive)
        throw new UnsupportedOperationException(
          s"point reads support structs of primitives only, got $g")
      primitive(t, v => cur(i) = v)
    }
    override def getConverter(i: Int): Converter = children(i)
    override def start(): Unit = cur = new Array[Any](children.length)
    override def end(): Unit = b += new PointRow(names, cur)
    def clear(): Unit = b.clear()
    def result(): Any = b.toArray
  }

  private abstract class ListLeaf extends PrimitiveConverter with ListBuf

  private object ListLeaf {
    def apply(t: Type): ListLeaf = t.asPrimitiveType.getPrimitiveTypeName match {
      case PrimitiveTypeName.INT32 => new ListLeaf {
        private val b = new mutable.ArrayBuilder.ofInt
        override def addInt(v: Int): Unit = b += v
        def clear(): Unit = b.clear()
        def result(): Any = b.result()
      }
      case PrimitiveTypeName.INT64 => new ListLeaf {
        private val b = new mutable.ArrayBuilder.ofLong
        override def addLong(v: Long): Unit = b += v
        def clear(): Unit = b.clear()
        def result(): Any = b.result()
      }
      case PrimitiveTypeName.DOUBLE => new ListLeaf {
        private val b = new mutable.ArrayBuilder.ofDouble
        override def addDouble(v: Double): Unit = b += v
        def clear(): Unit = b.clear()
        def result(): Any = b.result()
      }
      case PrimitiveTypeName.BINARY if isString(t) => new ListLeaf {
        private val b = mutable.ArrayBuffer.empty[String]
        override def addBinary(v: Binary): Unit = b += v.toStringUsingUTF8
        def clear(): Unit = b.clear()
        def result(): Any = b.toArray
      }
      case other =>
        throw new UnsupportedOperationException(s"point reads do not support lists of $other")
    }
  }
}

/** One row of a point read, by column name. */
private[index] final class PointRow(names: Map[String, Int], values: Array[Any]) {
  def apply[T](name: String): T = values(names(name)).asInstanceOf[T]
}

/** How a key type maps onto a Parquet key column: its statistics values,
  * the column's sort order (the Ordering), and the `IN` and range
  * predicates over the column's Parquet values `C`.
  */
private[index] sealed abstract class PointKey[K] extends Ordering[K] {
  type C <: Comparable[C]
  type Col = Operators.Column[C] with Operators.SupportsLtGt
  def fromStat(v: Any): K
  protected def column(col: String): Col
  protected def value(k: K): C

  final def predicate(col: String, keys: Seq[K]): FilterPredicate =
    FilterApi.in[C, Col](column(col), keys.map(value).toSet.asJava)
  final def range(col: String, lo: K, hiExclusive: K): FilterPredicate =
    FilterApi.and(FilterApi.gtEq[C, Col](column(col), value(lo)),
      FilterApi.lt[C, Col](column(col), value(hiExclusive)))
}

private[index] object PointKey {
  implicit object IntKey extends PointKey[Int] {
    type C = Integer
    def fromStat(v: Any): Int = v.asInstanceOf[Integer].intValue
    def compare(a: Int, b: Int): Int = Integer.compare(a, b)
    protected def column(col: String) = FilterApi.intColumn(col)
    protected def value(k: Int): Integer = Integer.valueOf(k)
  }

  /** Parquet orders strings by unsigned UTF-8 bytes, which differs from
    * `String.compareTo` past the Basic Multilingual Plane.
    */
  implicit object StringKey extends PointKey[String] {
    type C = Binary
    def fromStat(v: Any): String = v.asInstanceOf[Binary].toStringUsingUTF8
    def compare(a: String, b: String): Int =
      java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8))
    protected def column(col: String) = FilterApi.binaryColumn(col)
    protected def value(k: String): Binary = Binary.fromString(k)
  }
}
