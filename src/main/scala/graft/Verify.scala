package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import graft.core.GraftSession

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark: SparkSession = GraftSession
      .builder("graft-verify", cpus)
      .master(s"local[$cpus]")
      // the dumps keep INT96 timestamps, which DuckDB reads as the naive
      // TIMESTAMP its oracle SQL yields; the session's TIMESTAMP_MICROS
      // (UTC-adjusted) reads there as TIMESTAMPTZ
      .config("spark.sql.parquet.outputTimestampType", "INT96")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_VERIFY_ONLY=a,b,c restricts the dumped set — the
    // Tier-2 scale gate runs the LINEAR-SQL oracles at sf10 without
    // paying for (or failing on) the quadratic-oracle queries there
    // (ScalingBench's SCALING_ONLY convention)
    val keep: String => Boolean = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(',').map(_.trim).toSet)
      .map(s => s.contains(_: String)).getOrElse(_ => true)
    SparkEntry.queries.foreach { case (name, fn) =>
      if (keep(name))
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Machine-enforced oracle-validity bounds: an oracle whose
    // planted-data assumption breaks above a measured corpus size
    // (SparkEntry.oracleValidMaxDocs) is OMITTED at larger SFs — the
    // query degrades to a rows-only check instead of failing spuriously
    // against a correct engine answer.
    val nDocs =
      try spark.read.parquet(s"$sfDir/documents.parquet").count()
      catch { case _: Throwable => 0L }
    val emitted = SparkEntry.oracleSql
      .filter { case (k, _) =>
        val ok = SparkEntry.oracleValidMaxDocs.get(k).forall(nDocs <= _)
        if (!ok) System.err.println(
          s"[verify] $k: oracle omitted (validity bound " +
            s"${SparkEntry.oracleValidMaxDocs(k)} docs < corpus $nDocs)")
        ok
      }
    // Oracle-support exports (SparkEntry.oracleExports): deterministic
    // engine frames the oracle SQL reads back via read_parquet() —
    // written only when the consuming query's oracle survived the
    // validity gate, then spliced in by ABSOLUTE path (the driver's
    // DuckDB runs on this same filesystem right after).
    val expDir = new java.io.File(s"$outDir/_exports").getAbsolutePath
    SparkEntry.oracleExports.foreach { case (ename, (qname, fn)) =>
      if (emitted.contains(qname)) {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$expDir/$ename")
        catch { case e: Throwable =>
          System.err.println(s"[verify] export $ename failed: ${e.getMessage}")
        }
      }
    }
    val json = emitted
      .map { case (k, v) =>
        s"${q(k)}: ${q(v.replace("__EXPORTS__", expDir))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
