package perfbench

import org.apache.spark.sql.SparkSession

import graft.export.EraStateManager

/** The program's era ledger with every call timed into `rec`. Era commit latency runs
  * from `recordEraStart` to the end of `recordEraCompletion`; under a tracer
  * each era is an open span, so the jobs it launches nest beneath it. */
final class TimedStateManager(spark: SparkSession, dir: String, rec: Recorder, tracer: Option[Tracer])
    extends EraStateManager(spark, dir) {
  private var open = Map.empty[Long, (Long, Long)] // era → (start ns, span id)

  private def timed[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try tracer.map(_.span(name)(f)).getOrElse(f)
    finally { rec.ledgerNs += System.nanoTime() - t0; rec.ledgerCalls += 1 }
  }

  override def recordEraStart(era: Long, network: String): Unit = {
    val t0 = System.nanoTime()
    val id = tracer.map(_.open("era")).getOrElse(0L)
    open += era -> (t0, id)
    timed("ledger.start")(super.recordEraStart(era, network))
  }

  private def close(era: Long): Option[Double] = open.get(era).map { case (t0, id) =>
    open -= era
    tracer.foreach(_.close(id))
    (System.nanoTime() - t0) / 1e9
  }

  override def recordEraCompletion(era: Long, network: String, datasets: Seq[String],
      totalRecords: Long): Unit = {
    timed("ledger.complete")(super.recordEraCompletion(era, network, datasets, totalRecords))
    close(era).foreach(rec.add("era", _))
  }

  override def recordEraFailure(era: Long, network: String, error: String): Unit = {
    timed("ledger.fail")(super.recordEraFailure(era, network, error))
    close(era)
  }

  override def determineErasToProcess(available: Seq[Long], network: String): Seq[Long] =
    timed("ledger.resume")(super.determineErasToProcess(available, network))

  /** Parquet files the append-only ledger holds. */
  def logFiles: Int =
    Option(new java.io.File(dir, "era_completion").listFiles()).toSeq.flatten
      .count(_.getName.endsWith(".parquet"))
}
