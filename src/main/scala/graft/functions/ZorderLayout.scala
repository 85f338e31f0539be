package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-ORDER clustered parquet WRITER — the layout operator that acts on
  * the `q_zorder` diagnostic: where `q_zorder` *measures* how much a
  * Morton-interleaved layout would cut read amplification, this writes
  * the layout, so a filtered scan can actually skip files.
  *
  * Layout strategy: STATIC z-bucketing. Each row's k filter
  * dimensions (small integer domains, `bits` bits each) interleave into
  * a Morton key; the key space `[0, 2^(k*bits))` splits into `numFiles`
  * contiguous ranges; each range becomes one directory partition
  * (`zfile=K/`), and rows inside every partition are sorted by the full
  * z-key so parquet row-group min/max footers stay tight on EVERY
  * dimension. A box predicate on any dimension then prunes twice:
  * directory partitions via the catalog (`PartitionFilters`), row
  * groups inside surviving files via footer stats (`PushedFilters`).
  *
  * Why static ranges and not `repartitionByRange(zkey)`: range
  * partitioning samples boundaries, so two runs over the same data can
  * produce different file envelopes — fine for a one-off layout, fatal
  * for a reproducible pipeline (and for an oracle-gated test). Static
  * bucketing is deterministic: the file a row lands in is a pure
  * function of the row. The cost is skew tolerance — a hot z-range
  * becomes a hot bucket. At 100 TB: keep `numFiles` coarse (it bounds
  * the catalog, not the file count), set
  * `spark.sql.files.maxRecordsPerFile` so hot buckets split into many
  * parquet files (each still internally z-sorted, footers still tight),
  * and let AQE coalesce the cold ones. The within-bucket sort is
  * per-partition (no global exchange beyond the one hash repartition).
  */
object ZorderLayout {

  /** The k-dimensional Morton interleave of `bits`-bit non-negative
    * ints: bit `i` of dimension `j` (0-based, FIRST dim most significant
    * within each bit group) lands at key position `i*k + (k-1-j)` — for
    * k=2, d1 takes the odd bit positions and d2 the even.
    * Pure integer shift/multiply/add — exact, engine-portable
    * (the q_cluster_3d oracle re-derives it in DuckDB SQL), and fully
    * inside whole-stage codegen. The key domain is `2^(k*bits)`, capped
    * at 31 bits so the key (and the zfile division downstream) stays in
    * exact Int range — production N-dim z-ordering trades per-dim
    * resolution for dimension count at a fixed key width, same as here.
    */
  def mortonKey(dims: Seq[Column], bits: Int): Column = {
    val k = dims.length
    require(k >= 1, "mortonKey needs at least one dimension")
    require(k * bits <= 31,
      s"k*bits = ${k * bits} exceeds the 31-bit exact-Int key domain " +
        s"(lower bits or cluster fewer dimensions)")
    (for {
      i <- 0 until bits
      (d, j) <- dims.zipWithIndex
    } yield (shiftright(d, i) % 2) * lit(1 << (i * k + (k - 1 - j))))
      .reduce(_ + _)
  }

  /** Hilbert-curve index of a (d1, d2) cell on the 2^bits × 2^bits grid
    * — the locality-better alternative to [[mortonKey]]: the Hilbert
    * curve never jumps (adjacent indexes are always grid-adjacent), so
    * contiguous index ranges ("files") are more compact rectangles than
    * Morton's Z-jumps produce, and a box predicate touches fewer of
    * them. The standard xy→d bit transform (rotate/reflect per level),
    * unrolled to `bits` fixed rounds of pure integer CASE arithmetic so
    * the SAME computation is expressible as chained SQL CTEs for the
    * oracle — no loops, no UDF, stays inside codegen. d1 is x, d2 is y.
    */
  def hilbertKey(d1: Column, d2: Column, bits: Int): Column = {
    var x = d1
    var y = d2
    var d = lit(0)
    for (i <- (bits - 1) to 0 by -1) {
      val s = 1 << i
      val rx = when(x.bitwiseAND(lit(s)) > 0, 1).otherwise(0)
      val ry = when(y.bitwiseAND(lit(s)) > 0, 1).otherwise(0)
      d = d + lit(s * s) * ((lit(3) * rx).bitwiseXOR(ry))
      // rotate the quadrant: if ry==0 { if rx==1 reflect; swap x,y }
      val nx = when(ry === 0, when(rx === 1, lit(s - 1) - y).otherwise(y)).otherwise(x)
      val ny = when(ry === 0, when(rx === 1, lit(s - 1) - x).otherwise(x)).otherwise(y)
      x = nx
      y = ny
    }
    d
  }

  /** Write `df` z-clustered on the integer dimension columns `dimCols`
    * (each in `[0, 2^bits)`) into `numFiles` static z-range directory
    * partitions at `path`, z-sorted within each partition. The z-key
    * domain is `2^(k*bits)` for k dimensions and `numFiles` must divide
    * it. All downstream machinery (zfile ranges, envelope catalogs,
    * pruning) keys on the bucket directory + per-dim min/max, whatever
    * k is. The Hilbert curve stays 2-D — its rotate/reflect transform
    * does not factor per-dimension the way Morton's interleave does,
    * and a wrong silent fallback would change layouts under the caller
    * — so k≠2 hilbert rejects loudly.
    *
    * SKEW: `maxRecordsPerFile > 0` is the hot-bucket valve — a z-range
    * that attracts disproportionate mass (static bucketing's priced-in
    * cost, see the object scaladoc) splits into ceil(n/max) parquet
    * files INSIDE its `zfile=K/` directory. The split is applied to
    * the already-sorted partition stream, so every piece is still
    * internally z-sorted with tight row-group footers on every
    * dimension, and envelope/Bloom pruning are unaffected (both key
    * on the zfile directory, not the file count). At 100 TB this is
    * what keeps one hot bucket from becoming a single unsplittable
    * multi-TB file with no scan parallelism.
    */
  def write(df: DataFrame, dimCols: Seq[String], bits: Int,
            numFiles: Int, path: String, maxRecordsPerFile: Long = 0L,
            curve: String = "morton"): Unit = {
    val k = dimCols.length
    require(k >= 1, "write needs at least one clustered dimension")
    require(k * bits <= 31,
      s"k*bits = ${k * bits} exceeds the 31-bit exact-Int key domain")
    val domain = 1 << (k * bits)
    val zSpan = domain / numFiles
    require(zSpan * numFiles == domain,
      s"numFiles=$numFiles must divide $domain")
    // CURVE CHOICE: morton (the default; cheapest arithmetic) or
    // hilbert (no diagonal jumps — the q_hilbert diagnostic measures
    // the box-read-amplification trade between them; this knob makes
    // that measurement actionable). Everything downstream — zfile
    // ranges, envelope catalogs, Bloom indexes, pruning — keys on the
    // bucket directory and per-bucket min/max, so the curve is a pure
    // layout decision local to each written version.
    val key = curve match {
      case "morton" => mortonKey(dimCols.map(col), bits)
      case "hilbert" =>
        require(k == 2,
          s"the hilbert curve is 2-D only (got $k clustered dimensions); " +
            "use morton for k-dimensional layouts")
        hilbertKey(col(dimCols(0)), col(dimCols(1)), bits)
      case other => throw new IllegalArgumentException(
        s"unknown layout curve '$other' (expected morton or hilbert)")
    }
    df.withColumn("zkey", key)
      .withColumn("zfile", (col("zkey") / zSpan).cast("int"))
      .repartition(numFiles, col("zfile"))
      .sortWithinPartitions("zfile", "zkey")
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile) // 0 = filesystem default (no split)
      .partitionBy("zfile").parquet(path)
  }
}
