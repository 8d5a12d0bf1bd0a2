package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions.col

import graft.config.Networks
import graft.decode.BlockDecoder
import graft.operators.Normalizer
import graft.ssz.SnappyFramed

object Scans {
  private def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
    case q: QueryStageExec => leaves(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(leaves)
  }

  /** Files and bytes the file scans of an executed query read. */
  def filesAndBytes(df: DataFrame): (Long, Long) = {
    val scans = leaves(df.queryExecution.executedPlan).collect { case s: FileSourceScanExec => s }
    def metric(s: FileSourceScanExec, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
    (scans.map(metric(_, "numFiles")).sum, scans.map(metric(_, "filesSize")).sum)
  }
}

/** Per-partition totals of the isolated snappy / decode call. */
final case class DecodeTotals(snappyNs: Long, decodeNs: Long, blocks: Long, rejected: Long, bytesOut: Long)

/**
 * Isolated calls into single layers on the same corpus, for the traced run.
 * Decode runs as one fused Spark stage in the program, so its layers can only
 * be separated by calling them one at a time.
 */
object Layers {
  /** A full read with no sink work: the noop data source consumes every row. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def scan(spark: SparkSession, files: Seq[String]): Unit = noop(Workloads.eraScan(spark, files))

  /** `SnappyFramed.decompress` and `BlockDecoder.decode` on every block,
    * each timed inside the task. */
  def snappyAndDecode(spark: SparkSession, files: Seq[String]): DecodeTotals = {
    import spark.implicits._
    val parts = Workloads.eraScan(spark, files)
      .filter(col("record_type") === "block")
      .select("slot", "data", "network", "era_number", "source_file")
      .as[(Long, Array[Byte], String, Long, String)]
      .mapPartitions { it =>
        var snappy = 0L; var decode = 0L; var n = 0L; var rejected = 0L; var out = 0L
        it.foreach { case (slot, data, net, era, file) =>
          val t0 = System.nanoTime()
          val raw = SnappyFramed.decompress(data)
          val t1 = System.nanoTime()
          val block = BlockDecoder.decode(data, slot, Networks(net), era, file)
          snappy += t1 - t0; decode += System.nanoTime() - t1
          n += 1; out += raw.length
          if (block.isEmpty) rejected += 1
        }
        Iterator(DecodeTotals(snappy, decode, n, rejected, out))
      }.collect()
    DecodeTotals(parts.map(_.snappyNs).sum, parts.map(_.decodeNs).sum, parts.map(_.blocks).sum,
      parts.map(_.rejected).sum, parts.map(_.bytesOut).sum)
  }

  def rows(spark: SparkSession, files: Seq[String]): Unit =
    noop(Normalizer.decodeBlocks(Workloads.eraScan(spark, files)).toDF())
}
