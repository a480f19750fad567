package graft.catalog

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.column.values.bloomfilter.BloomFilter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.ingest.DynRecord
import graft.maintain.Compaction
import graft.mutate.Mutations
import graft.streaming.StreamingIngest

/** Every writer of table files keeps the point-lookup layout of
  * [[TableStore]]'s class doc: in each data file the ids are sorted, and
  * the footer carries an `id` bloom filter that holds each of the file's
  * ids and rejects an absent one. One case per writer, each checking
  * every data file of the table it leaves. */
class FileLayoutSpec extends SparkSpec {

  private val Absent = "absent-id"
  private val SmallFileBytes = 8192L

  private def rec(id: String, day: String, v: Any) =
    DynRecord(id, Timestamp.valueOf(s"$day 10:00:00"), Map("v" -> v))

  /** 40 rows over two days, ids in an order no writer keeps by accident.
    * Every input keeps each file under 100 rows, so each file, rewrites
    * included, must also stay under [[SmallFileBytes]]. */
  private def seeded(): TableStore = {
    val store = new TableStore(spark, tmpDir("layout"))
    store.write("t", (0 until 40).map { i =>
      rec(f"k${i * 17 % 40}%02d", if (i % 2 == 0) "2024-01-01" else "2024-01-02", i)
    })
    store.flush("t")
    store
  }

  private def seededThen(f: TableStore => Any): TableStore = {
    val store = seeded()
    f(store)
    store
  }

  private val writers: Seq[(String, () => TableStore)] = Seq(
    "flush" -> (() => seeded()),
    "deleteById" -> (() => seededThen(new Mutations(_).deleteById("t", "k05"))),
    "updateById" -> (() => seededThen(
      new Mutations(_).updateById("t", rec("k07", "2024-01-03", 99)))),
    "deleteWhere" -> (() => seededThen(new Mutations(_).deleteWhere("t", col("v") > 30))),
    "compaction" -> { () =>
      val store = new TableStore(spark, tmpDir("layout-cmp"))
      // interleaved ids across flushes so a naive rewrite would be unsorted
      (1 to 5).foreach { i =>
        store.write("t", Seq(rec(f"z$i%02d", "2024-01-01", i), rec(f"a$i%02d", "2024-01-01", i)))
        store.flush("t")
      }
      assert(new Compaction(store, minFiles = 2).compact("t")._1 == 1)
      store
    },
    "type migration" -> (() => seededThen { store =>
      // `v` was flushed as a number: a string value migrates every file
      store.write("t", Seq(rec("k99", "2024-01-02", "text")))
      store.flush("t")
    }),
    "streaming batch commit" -> { () =>
      val store = new TableStore(spark, tmpDir("layout-stream"))
      val src = tmpDir("layout-src")
      Files.writeString(Paths.get(src, "b1.json"), Seq("s9", "s1", "s5", "s3").map(id =>
        s"""{"id":"$id","timestamp":"2024-01-01T12:00:00.000Z","v":1.0}""").mkString("\n"))
      val schema = StructType(Seq(StructField("id", StringType),
        StructField("timestamp", TimestampType), StructField("v", DoubleType)))
      val q = new StreamingIngest(store).startJsonIngest("t", src, schema, tmpDir("layout-ckpt"))
      try q.awaitTermination(60000) finally q.stop()
      assert(store.read("t").count() == 4)
      store
    })

  /** Every data file of table `t`, with its length. */
  private def dataFiles(store: TableStore): Seq[(Path, Long)] = {
    val root = new Path(store.tablePath("t"))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    store.partitionDirs("t").flatMap(d => fs.listStatus(new Path(root, d)).toSeq)
      .filter(_.getPath.getName.endsWith(".parquet")).map(st => st.getPath -> st.getLen)
  }

  /** The `id` bloom filter of each row group of `file` (None: absent). */
  private def idBlooms(file: Path): Seq[Option[BloomFilter]] = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(file, spark.sparkContext.hadoopConfiguration))
    try reader.getFooter.getBlocks.asScala.toSeq.map { block =>
      block.getColumns.asScala.find(_.getPath.toDotString == "id")
        .flatMap(c => Option(reader.readBloomFilter(c)))
    } finally reader.close()
  }

  private def holds(blooms: Seq[Option[BloomFilter]], id: String): Boolean =
    blooms.flatten.exists(b => b.findHash(b.hash(Binary.fromString(id))))

  writers.foreach { case (writer, build) =>
    test(s"$writer keeps the point-lookup layout in every file") {
      val files = dataFiles(build())
      assert(files.nonEmpty)
      files.foreach { case (f, bytes) =>
        val ids = spark.read.parquet(f.toString).select("id").collect().map(_.getString(0)).toSeq
        assert(ids == ids.sorted, s"${f.getName} is not sorted by id: $ids")
        val blooms = idBlooms(f)
        assert(blooms.nonEmpty && blooms.forall(_.isDefined), s"${f.getName} has no id bloom filter")
        ids.foreach(id => assert(holds(blooms, id), s"${f.getName}'s bloom filter misses $id"))
        assert(!holds(blooms, Absent), s"${f.getName}'s bloom filter accepts $Absent")
        assert(bytes < SmallFileBytes, s"${f.getName} holds ${ids.size} rows in $bytes bytes")
      }
    }
  }

  test("a 100-row flush file stays under 8 KB") {
    val store = new TableStore(spark, tmpDir("layout-size"))
    store.write("t", (0 until 100).map(i => rec(f"r$i%03d", "2024-01-01", i)))
    store.flush("t")
    val files = dataFiles(store)
    assert(files.size == 1)
    assert(files.head._2 < SmallFileBytes, s"a 100-row file takes ${files.head._2} bytes")
  }

  test("a 5,000-row flush over 30 days stays under 200,000 bytes") {
    // each day's file holds a thirtieth of the batch's ids, so a filter
    // sized for the whole batch would be 30 times too large in every file
    val store = new TableStore(spark, tmpDir("layout-days"))
    val start = java.time.LocalDate.parse("2024-01-01")
    store.write("t", (0 until 5000).map(i => rec(f"r$i%04d", start.plusDays(i % 30L).toString, i)))
    store.flush("t")
    val files = dataFiles(store)
    assert(files.size == 30)
    val total = files.map(_._2).sum
    assert(total < 200000L, s"30 files take $total bytes")
  }
}
