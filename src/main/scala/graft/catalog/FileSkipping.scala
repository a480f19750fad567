package graft.catalog

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.column.values.bloomfilter.BlockSplitBloomFilter
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ColumnChunkMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Min and max of one column in one file, as Catalyst values (null when
  * unknown), and its null count (−1 when unknown). */
final case class ColumnStats(min: Any, max: Any, nulls: Long)

/** What one parquet footer says about its file: the Spark schema, the
  * row count, [[ColumnStats]] of each flat scalar column, and the offset
  * of each row group's `id` bloom filter (−1 for a group without one). */
final case class FileStats(schema: StructType, rows: Long,
    columns: Map[String, ColumnStats], idFilters: Seq[Long])

object FileStats {

  /** Reads the footer of `file`. The schema is the one Spark's schema
    * merge reads from the same footer. Timestamp and date bounds are kept
    * only for files Spark wrote in the proleptic calendar: a file marked
    * legacy-calendar is rebased on read, so its raw bounds are not the
    * values a filter compares. */
  def read(conf: Configuration, file: FileStatus, sqlConf: SQLConf): FileStats = {
    val footer = ParquetFileReader.readFooter(HadoopInputFile.fromStatus(file, conf),
      ParquetMetadataConverter.NO_FILTER)
    val schema = ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(sqlConf))
    val kv = footer.getFileMetaData.getKeyValueMetaData
    val timeOk = kv.containsKey("org.apache.spark.version") &&
      !kv.containsKey("org.apache.spark.legacyDateTime")
    val groups = footer.getBlocks.asScala.toSeq
    def chunks(name: String): Seq[(Long, ColumnChunkMetaData)] = groups.flatMap { g =>
      g.getColumns.asScala.find(_.getPath.toArray.sameElements(Array(name))).map(g.getRowCount -> _)
    }
    val columns = schema.fields.toSeq.filter(f => supported(f.dataType))
      .map(f => f -> chunks(f.name)).collect {
        case (f, cs) if cs.size == groups.size => f.name -> columnStats(f.dataType, cs, timeOk)
      }.toMap
    val idFilters = if (schema.fieldNames.contains("id")) chunks("id").map(_._2.getBloomFilterOffset)
      else Nil
    FileStats(schema, groups.map(_.getRowCount).sum, columns, idFilters)
  }

  private def supported(t: DataType): Boolean = t match {
    case StringType | TimestampType | DateType | LongType | IntegerType | DoubleType |
        FloatType | BooleanType => true
    case _ => false
  }

  /** File-level stats from the row groups' ones: a bound is known only
    * when every group holding a non-null value has it. A floating max is
    * never kept: NaN sorts above every number in Spark, and while
    * parquet-mr counts NaN as the largest value, the format lets writers
    * leave NaN out of the bounds (parquet-cpp and arrow-rs do), so such a
    * max could refute a `>` that a NaN row satisfies. */
  private def columnStats(t: DataType, chunks: Seq[(Long, ColumnChunkMetaData)],
      timeOk: Boolean): ColumnStats = {
    val ord = PhysicalDataType.ordering(t)
    val floating = t == DoubleType || t == FloatType
    var nulls = 0L
    var min: Option[Any] = None; var minOk = true
    var max: Option[Any] = None; var maxOk = true
    chunks.foreach { case (rows, c) =>
      val s = c.getStatistics
      val groupNulls = if (s != null && s.isNumNullsSet) s.getNumNulls else -1L
      nulls = if (nulls < 0 || groupNulls < 0) -1L else nulls + groupNulls
      if (groupNulls != rows) {
        val has = s != null && s.hasNonNullValue
        val lo = if (has) value(t, c.getPrimitiveType, s.genericGetMin, timeOk) else None
        val hi = if (has && !floating) value(t, c.getPrimitiveType, s.genericGetMax, timeOk) else None
        lo match {
          case Some(v) => if (min.forall(ord.lt(v, _))) min = Some(v)
          case None => minOk = false
        }
        hi match {
          case Some(v) => if (max.forall(ord.gt(v, _))) max = Some(v)
          case None => maxOk = false
        }
      }
    }
    ColumnStats(min.filter(_ => minOk).orNull, max.filter(_ => maxOk).orNull, nulls)
  }

  /** A parquet statistic as the Catalyst value of Spark type `t`, when
    * the physical encoding is one whose raw value is that value. */
  private def value(t: DataType, p: PrimitiveType, v: Any, timeOk: Boolean): Option[Any] = {
    val ann = p.getLogicalTypeAnnotation
    def signedInt(bits: Int) = ann == null || (ann match {
      case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation => i.isSigned && i.getBitWidth == bits
      case _ => false
    })
    (t, v) match {
      case (StringType, b: Binary) => Some(UTF8String.fromBytes(b.getBytes))
      case (TimestampType, l: java.lang.Long) if timeOk => ann match {
        case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation if ts.isAdjustedToUTC =>
          ts.getUnit match {
            case LogicalTypeAnnotation.TimeUnit.MICROS => Some(l.longValue)
            case LogicalTypeAnnotation.TimeUnit.MILLIS => Some(l.longValue * 1000L)
            case _ => None
          }
        case _ => None
      }
      case (DateType, i: Integer) if timeOk &&
          ann.isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation] => Some(i.intValue)
      case (LongType, l: java.lang.Long) if signedInt(64) => Some(l.longValue)
      case (IntegerType, i: Integer) if signedInt(32) => Some(i.intValue)
      case (DoubleType, d: java.lang.Double) if !d.isNaN => Some(d.doubleValue)
      case (FloatType, f: java.lang.Float) if !f.isNaN => Some(f.floatValue)
      case (BooleanType, b: java.lang.Boolean) => Some(b.booleanValue)
      case _ => None
    }
  }

  /** Does `e` hold on no row of the file `s` describes (false or null on
    * every row)? Only conjunctions, disjunctions, null tests and
    * comparisons of a column with a literal of its own type are read;
    * anything else may hold. A column the file lacks reads as null. */
  def refutes(e: Expression, s: FileStats, caseSensitive: Boolean): Boolean = {
    def stats(a: Attribute): Option[ColumnStats] = {
      val byName = s.schema.fields.filter(f =>
        if (caseSensitive) f.name == a.name else f.name.equalsIgnoreCase(a.name))
      byName match {
        case Array() => Some(ColumnStats(null, null, s.rows))
        case Array(f) if f.dataType == a.dataType => s.columns.get(f.name)
        case _ => None
      }
    }
    object Lit {
      def unapply(e: Expression): Option[Any] = e match {
        case Literal(v, _) if v != null => Some(v)
        case _ => None
      }
    }
    /** Column `a` compared with literal `v` refuted: `below` says whether
      * the file's min refutes it, `above` whether its max does. */
    def cmp(a: Attribute, v: Any)(below: (Ordering[Any], Any) => Boolean,
        above: (Ordering[Any], Any) => Boolean): Boolean = stats(a).exists { c =>
      val ord = PhysicalDataType.ordering(a.dataType)
      c.nulls == s.rows ||
        (c.min != null && below(ord, c.min)) || (c.max != null && above(ord, c.max))
    }
    def eq(a: Attribute, v: Any) = cmp(a, v)((o, lo) => o.gt(lo, v), (o, hi) => o.lt(hi, v))
    // `a < v` is refuted by a min at or above v, `a <= v` by one above v
    def lt(a: Attribute, v: Any, strict: Boolean) =
      cmp(a, v)((o, lo) => if (strict) o.gteq(lo, v) else o.gt(lo, v), (_, _) => false)
    def gt(a: Attribute, v: Any, strict: Boolean) =
      cmp(a, v)((_, _) => false, (o, hi) => if (strict) o.lteq(hi, v) else o.lt(hi, v))
    def typed(a: Expression, l: Expression) = a.isInstanceOf[Attribute] && l.dataType == a.dataType
    e match {
      case And(l, r) => refutes(l, s, caseSensitive) || refutes(r, s, caseSensitive)
      case Or(l, r) => refutes(l, s, caseSensitive) && refutes(r, s, caseSensitive)
      case IsNull(a: Attribute) => stats(a).exists(_.nulls == 0)
      case IsNotNull(a: Attribute) => stats(a).exists(_.nulls == s.rows)
      case EqualTo(a: Attribute, l @ Lit(v)) if typed(a, l) => eq(a, v)
      case EqualTo(l @ Lit(v), a: Attribute) if typed(a, l) => eq(a, v)
      case EqualNullSafe(a: Attribute, l @ Lit(v)) if typed(a, l) => eq(a, v)
      case EqualNullSafe(l @ Lit(v), a: Attribute) if typed(a, l) => eq(a, v)
      case In(a: Attribute, list) if list.forall(l => l.isInstanceOf[Literal] && typed(a, l)) =>
        list.forall { case Lit(v) => eq(a, v); case _ => true } // a null never matches
      case InSet(a: Attribute, set) => set.forall(v => v == null || eq(a, v))
      case LessThan(a: Attribute, l @ Lit(v)) if typed(a, l) => lt(a, v, strict = true)
      case GreaterThan(l @ Lit(v), a: Attribute) if typed(a, l) => lt(a, v, strict = true)
      case LessThanOrEqual(a: Attribute, l @ Lit(v)) if typed(a, l) => lt(a, v, strict = false)
      case GreaterThanOrEqual(l @ Lit(v), a: Attribute) if typed(a, l) => lt(a, v, strict = false)
      case GreaterThan(a: Attribute, l @ Lit(v)) if typed(a, l) => gt(a, v, strict = true)
      case LessThan(l @ Lit(v), a: Attribute) if typed(a, l) => gt(a, v, strict = true)
      case GreaterThanOrEqual(a: Attribute, l @ Lit(v)) if typed(a, l) => gt(a, v, strict = false)
      case LessThanOrEqual(l @ Lit(v), a: Attribute) if typed(a, l) => gt(a, v, strict = false)
      case _ => false
    }
  }
}

/** The [[FileStats]] of each table's data files, read once per file.
  * Files are immutable, so an entry is keyed by (path, length, mtime)
  * and never goes stale; each table keeps only the entries of its latest
  * listing, so the cache holds one entry per live file. Footers not yet
  * cached are read on the driver when there are at most Spark's
  * `parallelPartitionDiscovery.threshold` of them, else in one job. */
final class FooterCache(spark: SparkSession) {
  import FooterCache.Key
  private val tables = TrieMap[String, Map[Key, FileStats]]()

  /** Stats of `files` (a full listing of `table`), by path. */
  def apply(table: String, files: Seq[FileStatus]): Map[String, FileStats] = {
    val known = tables.getOrElse(table, Map.empty)
    val keyed = files.map(f => Key(f.getPath.toString, f.getLen, f.getModificationTime) -> f)
    val read = readAll(keyed.filterNot(k => known.contains(k._1)).map(_._2))
    val now = keyed.map { case (k, _) => k -> known.getOrElse(k, read(k.path)) }.toMap
    tables.put(table, now)
    now.map { case (k, s) => k.path -> s }
  }

  def drop(table: String): Unit = tables.remove(table)

  private def readAll(files: Seq[FileStatus]): Map[String, FileStats] = {
    val sqlConf = PlanBridge.sqlConf(spark)
    val conf = spark.sparkContext.hadoopConfiguration
    if (files.size <= sqlConf.parallelPartitionDiscoveryThreshold)
      files.map(f => f.getPath.toString -> FileStats.read(conf, f, sqlConf)).toMap
    else {
      val sc = spark.sparkContext
      val shipped = new SerializableConfiguration(conf)
      val settings = sqlConf.getAllConfs // a SQLConf does not survive serialization
      sc.parallelize(files.map(f => (f.getPath.toString, f.getLen, f.getModificationTime)),
          math.min(files.size, sc.defaultParallelism))
        .mapPartitions { part =>
          val taskConf = new SQLConf
          settings.foreach { case (k, v) => taskConf.setConfString(k, v) }
          part.map { case (p, len, mtime) => p -> FileStats.read(shipped.value,
            new FileStatus(len, false, 1, 0, mtime, new Path(p)), taskConf)
          }
        }
        .collect().toMap
    }
  }
}

object FooterCache {
  private final case class Key(path: String, length: Long, mtime: Long)
}

/** A [[FileIndex]] over `base` that leaves out each file whose
  * [[FileStats]] refute the scan's data filters, so a skipped file is
  * never scheduled or opened. When the filters pin `id` to literals
  * (`id = v`, `id IN (…)`), each remaining file's `id` bloom filters are
  * probed too; their bytes are read per probe, not cached. A file with
  * no stats, and any file whose filter cannot be read, is kept. */
final class SkippingFileIndex(base: FileIndex, stats: Map[String, FileStats],
    conf: Configuration, caseSensitive: Boolean) extends FileIndex {

  override def rootPaths: Seq[Path] = base.rootPaths
  override def inputFiles: Array[String] = base.inputFiles
  override def refresh(): Unit = base.refresh()
  override def sizeInBytes: Long = base.sizeInBytes
  override def partitionSchema: StructType = base.partitionSchema
  override def metadataOpsTimeNs: Option[Long] = base.metadataOpsTimeNs

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val dirs = base.listFiles(partitionFilters, dataFilters)
    // a partition column is in no file: only filters on data columns count
    val filters = dataFilters.filter(_.references.forall(a =>
      !partitionSchema.fieldNames.exists(_.equalsIgnoreCase(a.name))))
    if (filters.isEmpty) dirs
    else {
      val ids = filters.flatMap(idValues).headOption
      dirs.map(d => d.copy(files = d.files.filter { f =>
        stats.get(f.getPath.toString).forall { s =>
          !filters.exists(FileStats.refutes(_, s, caseSensitive)) &&
            ids.forall(mayHold(f.getPath, s, _))
        }
      })).filter(_.files.nonEmpty)
    }
  }

  /** The `id` values a conjunct pins, as parquet binaries. */
  private def idValues(e: Expression): Option[Seq[Binary]] = {
    def isId(a: Expression) = a match {
      case a: Attribute => a.name.equalsIgnoreCase("id") && a.dataType == StringType
      case _ => false
    }
    def bin(v: Any) = Binary.fromConstantByteArray(v.asInstanceOf[UTF8String].getBytes)
    e match {
      case EqualTo(a, Literal(v, StringType)) if isId(a) && v != null => Some(Seq(bin(v)))
      case EqualTo(Literal(v, StringType), a) if isId(a) && v != null => Some(Seq(bin(v)))
      case EqualNullSafe(a, Literal(v, StringType)) if isId(a) && v != null => Some(Seq(bin(v)))
      case In(a, list) if isId(a) && list.forall {
            case Literal(_, StringType) => true
            case _ => false
          } =>
        Some(list.collect { case Literal(v, _) if v != null => bin(v) })
      case InSet(a, set) if isId(a) => Some(set.toSeq.filter(_ != null).map(bin))
      case _ => None
    }
  }

  /** May a row group of the file hold one of `ids`, by its bloom filter? */
  private def mayHold(path: Path, s: FileStats, ids: Seq[Binary]): Boolean =
    s.idFilters.isEmpty || s.idFilters.contains(-1L) || scala.util.Try {
      val in = path.getFileSystem(conf).open(path)
      try s.idFilters.exists { offset =>
        in.seek(offset)
        val header = org.apache.parquet.format.Util.readBloomFilterHeader(in)
        if (!header.getAlgorithm.isSetBLOCK || !header.getHash.isSetXXHASH ||
            !header.getCompression.isSetUNCOMPRESSED) true
        else {
          val bits = new Array[Byte](header.getNumBytes)
          in.readFully(bits)
          val filter = new BlockSplitBloomFilter(bits)
          ids.exists(id => filter.findHash(filter.hash(id)))
        }
      } finally in.close()
    }.getOrElse(true)
}
