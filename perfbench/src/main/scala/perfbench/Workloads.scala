package perfbench

import java.io.File
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.export.{IncrementalExporter, StagedExport}
import graft.operators.Normalizer
import graft.queries.EraViews

/** What every workload shares: the session, its scratch directory, the
  * corpus it reads, and where operations and checks are recorded. */
final class Ctx(val spark: SparkSession, val runDir: File, val seed: Long, val cores: Int,
    val rec: Recorder) {
  /** Set while a traced phase runs. */
  var tracer: Option[Tracer] = None
  def span[A](name: String)(f: => A): A = tracer.map(_.span(name)(f)).getOrElse(f)
  def path(rel: String): String = new File(runDir, rel).getPath
}

/** The corpus a workload reads, once generated. */
final case class Inputs(dir: File, manifest: Manifest) {
  def files: Seq[String] = manifest.files.map(f => new File(dir, f.name).getPath)
  def fileOfEra(era: Long): String = new File(dir, manifest.files.find(_.era == era).get.name).getPath
  def eras: Seq[Long] = manifest.files.map(_.era)
}

/**
 * One closed-loop client: `pass` runs the workload's fixed unit of work once
 * and returns its wall seconds (operation time only, checks excluded); the
 * next pass starts only when the previous one returned.
 */
trait Workload {
  def name: String
  def shape(seed: Long): Shape
  /** The operation kind whose median latency the report prints as `op_s_p50`. */
  def opKind: String
  /** One-off preparation beyond the corpus (part of set-up). */
  def prepare(ctx: Ctx, in: Inputs): Unit = ()
  def pass(ctx: Ctx, in: Inputs, index: Int): Double
  /** Work before measuring, so code is compiled and caches are filled. */
  def warmUp(ctx: Ctx, in: Inputs): Unit = pass(ctx, in, -1)
  /** Workload-level figures for the report: name → (value, unit, samples). */
  def report(ctx: Ctx, in: Inputs, passWall: Seq[Double]): Seq[(String, Double, String, Int)]
  /** Directory the workload writes its output into (export volume). */
  def outputDir(ctx: Ctx): Option[String] = None
  def stateManager: Option[TimedStateManager] = None
  /** Whether passes decode the whole corpus, so the traced run also calls
    * the decode layers one at a time on it. */
  def bulkDecode: Boolean = true
}

object Workloads {
  val all: Seq[Workload] = Seq(new BulkEtl, new WhIngest, new WhRead)

  /** Share of the recorded block weight ([[Traffic.recorded]]) the
    * warehouse workloads' 8192-slot eras carry: it brings an electra block to
    * about 5 KB of SSZ, the average capella block size the reference
    * publishes (`BENCH_NOTES.md`), and lets a run of two full eras fit its
    * time. */
  val WhScale = 0.125
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  def eraScan(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.format("era").load(paths: _*)

  /** Number and bytes of the data files under `dir`. */
  def volume(dir: String): (Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val files = walk(new File(dir)).filter(f => f.getName.startsWith("part-"))
    (files.size.toLong, files.map(_.length()).sum)
  }

  /** Run `tasks` on `threads` threads; results in task order. */
  def parallel[A](threads: Int, tasks: Seq[() => A]): Seq[A] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try tasks.map(t => pool.submit(new java.util.concurrent.Callable[A] { def call(): A = t() }))
      .map(_.get())
    finally pool.shutdown()
  }

  /** A result as sorted canonical strings; doubles compared to 9 digits. */
  def canonical(rows: Seq[Row]): Seq[String] = rows.map(r => r.toSeq.map {
    case d: Double => "%.9g".format(d)
    case f: Float => "%.6g".format(f)
    case null => "null"
    case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
    case x => x.toString
  }.mkString("|")).sorted
}

/** `StagedExport.exportAll` over the six-fork corpus, several files per core. */
final class BulkEtl extends Workload {
  val name = "bulk_etl"
  val opKind = "export"
  def shape(seed: Long): Shape =
    Shape("etl", Corpus.forkEras(seed, perFork = 3).map(FileSpec(_, 128)), 0.03, scale = 1.0)

  override def outputDir(ctx: Ctx): Option[String] = Some(ctx.path("etl/out"))

  def pass(ctx: Ctx, in: Inputs, index: Int): Double = {
    val t0 = System.nanoTime()
    val result = ctx.rec.op(opKind) {
      ctx.span("exportAll") {
        StagedExport.exportAll(Normalizer.decodeBlocks(Workloads.eraScan(ctx.spark, in.files)),
          ctx.path("etl/stage"), ctx.path("etl/out/etl.parquet"))
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    for (tables <- result) ctx.span("check") {
      Corpus.Tables.foreach { t =>
        val got = tables.get(t).map(_._1).getOrElse(-1L)
        ctx.rec.check(s"$name rows of $t", got == in.manifest.rows(t),
          s"got $got, manifest ${in.manifest.rows(t)}")
      }
    }
    wall
  }

  def report(ctx: Ctx, in: Inputs, passWall: Seq[Double]) = {
    val w = Stats.median(passWall)
    Seq(("blocks_per_s", in.manifest.blocks / w, "blocks/s", passWall.size),
      ("rows_per_s", in.manifest.totalRows / w, "rows/s", passWall.size))
  }
}

/** `IncrementalExporter.runWarehouse` at production geometry (two full
  * 8192-slot electra eras): every pass loads a fresh warehouse and ledger,
  * then resumes over the same eras. */
final class WhIngest extends Workload {
  val name = "wh_ingest"
  val opKind = "era"
  private var state: Option[TimedStateManager] = None
  override def stateManager: Option[TimedStateManager] = state

  def shape(seed: Long): Shape =
    Shape("wh", Corpus.erasOf(seed, "electra", 2).map(FileSpec(_, 8192)), 0.03, Workloads.WhScale)

  /** One pass over 1024-slot slices of two other electra eras: the same
    * jobs and generated code as the measured pass — the second era writes
    * with a measured `maxRecordsPerFile`, the first without — at an eighth
    * of the data. */
  override def warmUp(ctx: Ctx, in: Inputs): Unit = {
    val eras = Corpus.erasOf(ctx.seed, "electra", 4).filterNot(in.eras.contains).take(2)
    val dir = new File(ctx.runDir, "warm-corpus")
    pass(ctx, Inputs(dir, Corpus.generate(dir, Shape("wh-warm", eras.map(FileSpec(_, 1024)), 0.03, Workloads.WhScale),
      ctx.seed, ctx.cores)), -1)
  }

  override def outputDir(ctx: Ctx): Option[String] = Some(ctx.path("wh/load/warehouse"))

  def pass(ctx: Ctx, in: Inputs, index: Int): Double = {
    val base = ctx.path("wh/load")
    Corpus.deleteRecursively(new File(base))
    val wh = s"$base/warehouse"
    val mgr = new TimedStateManager(ctx.spark, s"$base/state", ctx.rec, ctx.tracer)
    state = Some(mgr)
    def load(): Seq[Long] = IncrementalExporter.runWarehouse(ctx.spark, mgr, Corpus.Network.name,
      in.eras, wh)(era => Workloads.eraScan(ctx.spark, Seq(in.fileOfEra(era))))
    val t0 = System.nanoTime()
    val loaded = ctx.rec.op("load")(ctx.span("runWarehouse")(load()))
    val resumed = ctx.rec.op("resume")(ctx.span("resume")(load()))
    val wall = (System.nanoTime() - t0) / 1e9
    ctx.span("check")(checkLoad(ctx, in, mgr, wh, loaded, resumed))
    wall
  }

  private def checkLoad(ctx: Ctx, in: Inputs, mgr: TimedStateManager, wh: String,
      loaded: Option[Seq[Long]], resumed: Option[Seq[Long]]): Unit = {
    ctx.rec.check(s"$name loads every era", loaded.contains(in.eras), s"processed $loaded")
    ctx.rec.check(s"$name resume processes no era", resumed.contains(Nil), s"processed $resumed")
    val status = mgr.eraStatus.collect().map(r => r.getAs[Long]("era_number") ->
      (r.getAs[String]("status"), r.getAs[Long]("total_records"))).toMap
    in.manifest.files.foreach { f =>
      val expected = f.rows.values.sum
      ctx.rec.check(s"$name ledger era ${f.era}", status.get(f.era).contains(("completed", expected)),
        s"ledger ${status.get(f.era)}, manifest $expected")
    }
    EraViews.registerWarehouse(ctx.spark, wh)
    val counts = ctx.spark.sql(Corpus.Tables.map(t => s"SELECT '$t' AS t, count(*) AS n FROM $t")
      .mkString(" UNION ALL ")).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Corpus.Tables.foreach { t =>
      ctx.rec.check(s"$name warehouse rows of $t", counts.get(t).contains(in.manifest.rows(t)),
        s"got ${counts.get(t)}, manifest ${in.manifest.rows(t)}")
    }
  }

  def report(ctx: Ctx, in: Inputs, passWall: Seq[Double]) = {
    val load = ctx.rec.samples("load")
    val eraS = ctx.rec.samples("era")
    Seq(("blocks_per_s", in.manifest.blocks / Stats.median(load), "blocks/s", load.size),
      ("rows_per_s", in.manifest.totalRows / Stats.median(load), "rows/s", load.size),
      ("era_commit_s_p50", Stats.median(eraS), "s", eraS.size))
  }
}

/** Read-only traffic on a warehouse built in set-up: every EraViews SQL text
  * over the warehouse views and the ledger, plus single-slot lookups on the
  * raw era files through the SlotIndex. */
final class WhRead extends Workload {
  val name = "wh_read"
  val opKind = "query"
  override val bulkDecode = false

  /** The ClickHouse-derived texts over the exported tables. */
  val dataTexts: Seq[(String, String)] = Seq(
    "daily_activity" -> EraViews.DailyActivitySql, "slot_gaps" -> EraViews.SlotGapsSql,
    "attestation_participation" -> EraViews.AttestationParticipationSql,
    "exits_monthly" -> EraViews.ExitsMonthlySql, "tx_fee_recipients" -> EraViews.TxFeeRecipientsSql,
    "sync_participation" -> EraViews.SyncParticipationSql,
    "slashing_classified" -> EraViews.SlashingClassifiedSql,
    "bls_top_validators" -> EraViews.BlsTopValidatorsSql, "blob_patterns" -> EraViews.BlobPatternsSql,
    "block_production" -> EraViews.BlockProductionSql, "block_timing" -> EraViews.BlockTimingSql,
    "withdrawal_hourly" -> EraViews.WithdrawalHourlySql, "request_mix" -> EraViews.RequestMixSql,
    "deposit_trends" -> EraViews.DepositTrendsSql,
    "consolidation_addresses" -> EraViews.ConsolidationAddressesSql,
    "consolidation_efficiency" -> EraViews.ConsolidationEfficiencySql,
    "tx_hourly" -> EraViews.TxHourlySql, "gas_utilization" -> EraViews.GasUtilizationSql,
    "health_freshness" -> EraViews.HealthFreshnessSql, "data_quality" -> EraViews.DataQualitySql)
  /** The ledger texts, over the harness's own era ledger. */
  val stateTexts: Seq[(String, String)] = Seq(
    "state_status" -> EraViews.StateStatusSql, "state_recent" -> EraViews.StateRecentSql,
    "state_failed" -> EraViews.StateFailedSql, "state_perf" -> EraViews.StatePerfSql)
  val LookupsPerPass = 8

  private var expected = Map.empty[String, Seq[String]]
  private var warehouse = ""
  private var lookupRnd: SplittableRandom = _
  private var state: Option[TimedStateManager] = None
  override def stateManager: Option[TimedStateManager] = state
  /** Per traced pass: (files, bytes) the SQL scans read. */
  val scanned = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]

  def shape(seed: Long): Shape = {
    Shape("whread", Corpus.erasOf(seed, "electra", 1).map(FileSpec(_, 2048)), 0.03, Workloads.WhScale)
  }

  override def outputDir(ctx: Ctx): Option[String] = Some(warehouse)

  /** Build the warehouse with the production loop, then compute every
    * expected result once over decode views of the same corpus. */
  override def prepare(ctx: Ctx, in: Inputs): Unit = {
    val spark = ctx.spark
    val base = ctx.path("whread")
    Corpus.deleteRecursively(new File(base))
    warehouse = s"$base/warehouse"
    val mgr = new TimedStateManager(spark, s"$base/state", new Recorder, None)
    state = Some(mgr)
    val t0 = System.nanoTime()
    val built = IncrementalExporter.runWarehouse(spark, mgr, Corpus.Network.name, in.eras, warehouse)(
      era => Workloads.eraScan(spark, Seq(in.fileOfEra(era))))
    ctx.rec.check(s"$name warehouse build", built == in.eras, s"processed $built")
    mgr.eraStatus.createOrReplaceTempView("era_completion")
    mgr.log.createOrReplaceTempView("era_completion_log")
    val t1 = System.nanoTime()
    // one partition per core: the era scan gives one per file
    val decoded = Normalizer.decodeBlocks(Workloads.eraScan(spark, in.files)).repartition(ctx.cores).cache()
    try {
      EraViews.register(spark, decoded)
      // independent read-only queries: running them side by side spreads
      // their cold planning and code generation over the cores
      expected = (dataTexts ++ stateTexts).map(_._1).zip(Workloads.parallel(ctx.cores,
        (dataTexts ++ stateTexts).map { case (_, sql) => () => Workloads.canonical(spark.sql(sql).collect().toSeq) }
      )).toMap
    } finally decoded.unpersist()
    // a text over empty tables would compare empty with empty and prove nothing
    dataTexts.foreach { case (n, _) =>
      ctx.rec.check(s"$name $n has rows", expected(n).nonEmpty, "empty over the decode views")
    }
    println(f"# prepare: warehouse build ${(t1 - t0) / 1e9}%.3f s, expected results ${(System.nanoTime() - t1) / 1e9}%.3f s")
    val status = spark.sql(EraViews.StateStatusSql).collect()
    ctx.rec.check(s"$name ledger", status.length == 1 && status(0).getString(0) == "completed" &&
      status(0).getLong(1) == in.eras.size && status(0).getLong(2) == in.manifest.totalRows,
      status.mkString(";"))
    lookupRnd = new SplittableRandom(ctx.seed * 6364136223846793005L + 1442695040888963407L)
  }

  /** Set-up already planned every text over the decode views; running each
    * once over the warehouse views, side by side, compiles their scans. */
  override def warmUp(ctx: Ctx, in: Inputs): Unit = {
    EraViews.registerWarehouse(ctx.spark, warehouse)
    val texts = dataTexts ++ stateTexts
    texts.zip(Workloads.parallel(ctx.cores, texts.map { case (_, sql) =>
      () => Workloads.canonical(ctx.spark.sql(sql).collect().toSeq)
    })).foreach { case ((n, _), rows) =>
      ctx.rec.check(s"$name $n", rows == expected(n), "warm-up result differs from decode views")
    }
    (0 until 2).foreach { _ => val (slot, present) = nextSlot(in); lookup(ctx, in, slot, present) }
  }

  private def lookup(ctx: Ctx, in: Inputs, slot: Long, present: Boolean): Unit =
    ctx.rec.op("lookup") {
      ctx.span("lookup") {
        Normalizer.decodeBlocks(Workloads.eraScan(ctx.spark, Seq(new File(in.dir, "*.era").getPath))
          .filter(col("slot") === slot)).collect().map(_.slot).toSeq
      }
    }.foreach { got =>
      ctx.span("check")(ctx.rec.check(s"$name lookup $slot", got == (if (present) Seq(slot) else Nil),
        s"got $got"))
    }

  /** Seeded slots: three in four present, one in four missed. */
  private def nextSlot(in: Inputs): (Long, Boolean) = {
    val f = in.manifest.files(lookupRnd.nextInt(in.manifest.files.size))
    val first = f.era * Corpus.Network.slotsPerHistoricalRoot
    if (lookupRnd.nextInt(4) == 0 && f.missed.nonEmpty) (f.missed(lookupRnd.nextInt(f.missed.size)), false)
    else {
      val missed = f.missed.toSet
      Iterator.continually(first + lookupRnd.nextInt(f.slotCount)).find(s => !missed(s)).get -> true
    }
  }

  def pass(ctx: Ctx, in: Inputs, index: Int): Double = {
    val spark = ctx.spark
    val t0 = System.nanoTime()
    ctx.rec.op("register")(ctx.span("registerWarehouse")(EraViews.registerWarehouse(spark, warehouse)))
    var files = 0L; var bytes = 0L
    // a fixed order: which text runs first would otherwise move the median
    (dataTexts ++ stateTexts).foreach { case (n, sql) =>
      ctx.rec.op(opKind) {
        ctx.span(s"sql.$n") {
          val df = spark.sql(sql)
          ctx.span("plan")(df.queryExecution.executedPlan)
          val rows = ctx.span("exec")(df.collect().toSeq)
          val (f, b) = Scans.filesAndBytes(df)
          files += f; bytes += b
          rows
        }
      }.foreach { rows =>
        ctx.span("check")(ctx.rec.check(s"$name $n", Workloads.canonical(rows) == expected(n),
          "result differs from decode views"))
      }
    }
    (0 until LookupsPerPass).foreach { _ =>
      val (slot, present) = nextSlot(in)
      lookup(ctx, in, slot, present)
    }
    if (ctx.tracer.isDefined) scanned += files -> bytes
    (System.nanoTime() - t0) / 1e9
  }

  def report(ctx: Ctx, in: Inputs, passWall: Seq[Double]) = {
    val q = ctx.rec.samples(opKind)
    val l = ctx.rec.samples("lookup")
    Seq(("query_s_p50", Stats.median(q), "s", q.size), ("query_s_p90", Stats.quantile(q, 0.9), "s", q.size),
      ("lookup_s_p50", Stats.median(l), "s", l.size), ("lookup_s_p90", Stats.quantile(l, 0.9), "s", l.size))
  }
}
