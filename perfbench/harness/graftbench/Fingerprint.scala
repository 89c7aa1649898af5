package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Order-insensitive output fingerprint: the row count plus two sums over
  * a 64-bit hash of each row's JSON rendering (every column, by name).
  * The sums are split into 32-bit halves so they cannot overflow below
  * 2^31 rows. */
final case class Fingerprint(rows: Long, hash: String)

object Fingerprint {
  def of(df: DataFrame): Fingerprint = {
    val cols = df.columns.map(c => col("`" + c.replace("`", "``") + "`"))
    val h = xxhash64(to_json(struct(cols.toIndexedSeq: _*)))
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(shiftrightunsigned(col("h"), 32)),
        sum(col("h").bitwiseAND(lit(0xFFFFFFFFL))))
      .head()
    val hi = if (r.isNullAt(1)) 0L else r.getLong(1)
    val lo = if (r.isNullAt(2)) 0L else r.getLong(2)
    Fingerprint(r.getLong(0), f"$hi%016x$lo%016x")
  }

  /** `key<TAB>rows<TAB>hash` lines; `#` starts a comment. */
  def load(path: Path): Map[String, Fingerprint] =
    if (!Files.exists(path)) Map.empty
    else Files.readAllLines(path, StandardCharsets.UTF_8).asScala
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(k, n, h) = l.split("\t")
        k -> Fingerprint(n.toLong, h)
      }.toMap

  def save(path: Path, header: String, fps: Seq[(String, Fingerprint)]): Unit = {
    val lines = s"# $header" +: fps.sortBy(_._1).map { case (k, f) =>
      s"$k\t${f.rows}\t${f.hash}"
    }
    Files.createDirectories(path.toAbsolutePath.getParent)
    Files.write(path, (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
  }

  /** Writes the expected-fingerprint file from a `graft.Verify` output
    * directory (one parquet directory per key) whose outputs
    * tools/validate.py matched against the DuckDB oracle. Covers every
    * key of every query workload.
    *   graftbench.Fingerprint <verifyOutDir> <fingerprints.tsv> */
  def main(args: Array[String]): Unit = {
    val Array(dir, out) = args
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val keys = Workloads.queryKeys.values.flatten.map(Workloads.resolveKey).toSeq
    save(Paths.get(out), s"graft.Verify outputs matched against the DuckDB oracle: key, rows, row-hash sums",
      keys.map(k => k -> of(spark.read.parquet(Paths.get(dir, k).toString))))
    spark.stop()
  }
}
