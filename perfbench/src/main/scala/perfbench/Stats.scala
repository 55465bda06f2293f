package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Summaries of repeated measurements. */
object Stats {

  /** Linear-interpolated percentile (numpy's default): `p` in [0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0 && p <= 100, s"percentile $p outside [0, 100]")
    val s = xs.sorted
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Order-independent digest of a frame's rows: row count plus the sum of
    * two independent 64-bit row hashes, summed as decimals so no overflow
    * wraps. Equal multisets of rows give equal digests. */
  def digest(df: DataFrame): String = {
    val cols = df.columns.sorted.map(col)
    val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h1"),
        hash(cols: _*).cast("decimal(38,0)").as("h2"))
      .agg(count(lit(1)), coalesce(sum("h1"), lit(0)), coalesce(sum("h2"), lit(0)))
      .collect().head
    s"${r.getLong(0)}:${r.get(1)}:${r.get(2)}"
  }
}

/** Local file helpers for the benchmark's work directory. */
object Files {
  def rm(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.delete(f))
      finally s.close()
    }
  }
  def exists(path: String): Boolean = new java.io.File(path).exists()
  def write(path: String, text: String): Unit = {
    new java.io.File(path).getParentFile.mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(path), text.getBytes("UTF-8"))
  }
}
