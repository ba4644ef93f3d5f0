package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** 2-D skyline (Pareto-dominance) operator — an operator Spark SQL lacks
  * (pattern from the public literature on skyline integration into Spark,
  * e.g. EDBT'23 "Integration of Skyline Queries into Spark SQL").
  *
  * A point dominates another when it is <= in the minimized dimension,
  * >= in the maximized one, and strictly better in at least one. The
  * skyline is the set of non-dominated distinct points.
  *
  * Scale shape (the standard distributed-skyline recipe): compute a LOCAL
  * skyline inside every partition with the O(n log n) sorted scan —
  * dominated points never leave their partition, and for realistic data
  * the surviving candidate set is orders of magnitude smaller than the
  * input. The global stage stays PARALLEL (no single-partition gather,
  * which anti-correlated data — O(n) survivors, all on the front — would
  * turn into a one-task bottleneck): survivors are range-partitioned by
  * the minimized dimension, so dominance can only flow from earlier
  * partitions, and each partition's scan output is cut against the
  * running max of the earlier partitions' best maxDim — a per-partition
  * scalar, collected as P tiny stats rows. No all-pairs comparison at any
  * stage, and no stage is single-task.
  */
object Skyline {

  /** Sorted-scan skyline of one iterator: rows must arrive sorted by
    * (minDim asc, maxDim desc); a row survives iff its maxDim strictly
    * exceeds every earlier row's. */
  private def scan(rows: Iterator[Row], minIdx: Int, maxIdx: Int): Iterator[Row] = {
    var best = Double.NegativeInfinity
    rows.flatMap { r =>
      val v = r.getDouble(maxIdx)
      if (v > best) { best = v; Some(r) } else None
    }
  }

  /** Skyline of `df` minimizing `minCol` and maximizing `maxCol`; returns
    * the distinct Pareto-front points as (minCol, maxCol). */
  def skyline2d(df: DataFrame, minCol: String, maxCol: String): DataFrame = graft.Blocks.scope { s =>
    import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}
    val pts = df.select(col(minCol).cast("double").as("mn"),
      col(maxCol).cast("double").as("mx")).distinct()
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(pts.schema)
    val localSky = pts
      .sortWithinPartitions(col("mn").asc, col("mx").desc)
      .mapPartitions(it => scan(it, 0, 1))

    // Parallel merge: range-partition survivors by mn (equal mn values land
    // together), local-scan each partition, and tag rows with their
    // partition id. A row can then only be dominated by a row in an
    // EARLIER partition — and there only by its max mx.
    val pidSchema = StructType(StructField("pid", IntegerType, nullable = false) +:
      pts.schema.fields)
    val withPid = s.persist(localSky
      .repartitionByRange(col("mn").asc)
      .sortWithinPartitions(col("mn").asc, col("mx").desc)
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        scan(it, 0, 1).map(r => Row(pid, r.getDouble(0), r.getDouble(1)))
      }(org.apache.spark.sql.Encoders.row(pidSchema)))

    // Per-partition best mx: P scalar rows (P = shuffle partitions) — the
    // same driver-pull class as a watermark probe. Exclusive running max
    // in pid order gives each partition its dominance cut.
    val best = withPid.groupBy("pid").agg(max("mx").as("m"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).sortBy(_._1)
    val cuts: Seq[(Int, Double)] = best.toList.scanLeft((0, Double.NegativeInfinity)) {
      case ((_, run), (pid, m)) => (pid, run max m)
    }.sliding(2).collect { case Seq((_, prevRun), (pid, _)) =>
      pid -> prevRun
    }.toSeq
    // (pid, run) after scanLeft is the INCLUSIVE max; pairing each pid with
    // the PREVIOUS element's running value makes it exclusive.
    val cutOf = cuts.toMap
    val front =
      if (cutOf.isEmpty) withPid
      else {
        val entries = cuts.flatMap { case (p, c) => Seq(lit(p), lit(c)) }
        withPid.where(col("mx") > element_at(map(entries: _*), col("pid")))
      }
    s.result(front.select(col("mn").as(minCol), col("mx").as(maxCol)))
  }
}
