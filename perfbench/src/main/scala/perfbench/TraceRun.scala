package perfbench

import java.io.File

import scala.collection.immutable.ListMap

import org.apache.spark.PerfbenchBus

/**
 * The traced run. Untraced passes alternate with traced ones (listener
 * attached, spans open) for `--seconds`, so `trace.overhead_frac` compares
 * the two in one process. Then, on the same corpus, single layers are called in
 * isolation. Stages are charged to layers by their call-site file
 * (`layers.json`); stages the harness itself submits are charged to the
 * layer of the span they ran under. Stages of the harness's output checks
 * are left out of every total. `perLayer` lists the metrics to report, with
 * their units, in `BENCHMARK.json` order.
 */
final class TraceRun(ctx: Ctx, w: Workload, in: Inputs, env: Map[String, Any],
    perLayer: Seq[(String, String)], out: File) {
  private val spark = ctx.spark
  private val sc = spark.sparkContext
  private val (fileModules, spanLayers) = Main.readLayers()
  private val listener = new StageListener
  private val tracer = new Tracer(s"${w.name}-${ctx.seed}-${System.currentTimeMillis()}", Some(sc))
  private val units = perLayer.toMap
  private val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private val stageRows = Seq.newBuilder[Map[String, Any]]

  private def put(name: String, v: Double): Unit = {
    require(units.contains(name), s"$name is not a per-layer metric of BENCHMARK.json")
    metrics(name) = v
  }

  private def drain(): Unit = PerfbenchBus.drain(sc)

  def run(seconds: Double): Seq[(String, Double, String)] = {
    perLayer.foreach { case (n, _) => put(n, 0.0) }
    // untraced and traced passes alternate, starting and ending untraced, so
    // the traced passes sit in the middle of the JIT warm-up the untraced
    // ones bracket
    val untraced = Seq.newBuilder[Double]
    val traced = Seq.newBuilder[Double]
    var ledgerNs = 0L; var ledgerCalls = 0L
    val runId = tracer.open("run")
    val start = System.nanoTime()
    var i = 0
    while (i < 3 || i % 2 == 0 || (System.nanoTime() - start) / 1e9 < seconds) {
      if (i % 2 == 0) untraced += w.pass(ctx, in, i)
      else {
        sc.addSparkListener(listener)
        ctx.tracer = Some(tracer)
        val (ns0, calls0) = (ctx.rec.ledgerNs, ctx.rec.ledgerCalls)
        traced += tracer.span("pass")(w.pass(ctx, in, i))
        ledgerNs += ctx.rec.ledgerNs - ns0; ledgerCalls += ctx.rec.ledgerCalls - calls0
        ctx.tracer = None
        drain()
        sc.removeSparkListener(listener)
      }
      i += 1
    }
    tracer.close(runId)
    val tracedWalls = traced.result()
    val n = tracedWalls.size.toDouble
    val spans = tracer.all
    passMetrics(listener.stageList, listener, spans, tracedWalls, n)
    put("export.state.ledger_s", ledgerNs / 1e9 / n)
    put("export.state.ledger_calls", ledgerCalls / n)
    w.stateManager.foreach(m => put("export.state.log_files", m.logFiles))
    val untracedWalls = untraced.result()
    put("trace.overhead_frac", tracedWalls.sum / n / (untracedWalls.sum / untracedWalls.size) - 1)
    queryMetrics(spans, n)
    w.outputDir(ctx).foreach { d =>
      val (files, bytes) = Workloads.volume(d)
      put("export.files", files)
      put("export.bytes", bytes)
      put("export.bytes_per_input_byte", bytes.toDouble / in.manifest.bytes)
    }
    val passJobs = listener.jobList
    val passStages = listener.stageList
    if (w.bulkDecode) {
      sc.addSparkListener(listener)
      isolatedLayers()
      sc.removeSparkListener(listener)
    }
    writeTrace(tracer.all, passJobs, passStages)
    perLayer.map { case (name, unit) => (name, metrics(name), unit) }
  }

  /** The layer a span's subtree is charged to, from `span_layers`. */
  private def spanLayer(spanId: Long, byId: Map[Long, Span]): Option[String] =
    byId.get(spanId).flatMap { s =>
      spanLayers.sortBy(-_._1.length).collectFirst { case (prefix, layer) if s.name.startsWith(prefix) => layer }
        .orElse(spanLayer(s.parent, byId))
    }

  private def tableOf(path: String): Option[String] = {
    val tables = (Corpus.Tables :+ "wide_blocks").sortBy(-_.length)
    tables.find(t => path.endsWith(s"/$t") || path.endsWith(s"_$t.parquet") || path.contains(s"/$t/"))
  }

  /** Whether a span is, or runs under, one of the harness's output checks. */
  private def inCheck(spanId: Long, byId: Map[Long, Span]): Boolean =
    byId.get(spanId).exists(s => s.name == "check" || inCheck(s.parent, byId))

  private def passMetrics(allStages: Seq[StageFacts], l: StageListener, spans: Seq[Span],
      walls: Seq[Double], n: Double): Unit = {
    val byId = spans.map(s => s.id -> s).toMap
    var unattributedMs = 0L
    var unmapped = 0
    val byTable = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val (checks, stages) = allStages.partition(s => l.jobOf(s).exists(j => inCheck(j.span, byId)))
    checks.foreach { s =>
      stageRows += ListMap("stage" -> s.stageId, "call_site" -> s.name, "module" -> "check",
        "job" -> s.jobId, "tasks" -> s.tasks.get, "task_s" -> s.taskMs.get / 1e3)
    }
    stages.foreach { s =>
      val job = l.jobOf(s)
      val module = fileModules.get(s.callSiteFile) match {
        case Some("@span") => job.flatMap(j => spanLayer(j.span, byId))
        case other => other
      }
      if (!fileModules.contains(s.callSiteFile)) unmapped += 1
      if (module.isEmpty) unattributedMs += s.taskMs.get
      job.flatMap(j => Option(l.writePaths.get(j.execution))).flatMap(tableOf)
        .foreach(t => byTable(t) += s.taskMs.get)
      stageRows += ListMap("stage" -> s.stageId, "call_site" -> s.name, "module" -> module.getOrElse("?"),
        "job" -> s.jobId, "span" -> job.map(_.span).getOrElse(0L), "tasks" -> s.tasks.get,
        "task_s" -> s.taskMs.get / 1e3)
    }
    def taskS(p: StageFacts => Boolean) = stages.filter(p).map(_.taskMs.get).sum / 1e3 / n
    val totalMs = stages.map(_.taskMs.get).sum
    put("spark.task_s", totalMs / 1e3 / n)
    put("spark.cpu_s", stages.map(_.cpuNs.get).sum / 1e9 / n)
    put("spark.gc_s", stages.map(_.gcMs.get).sum / 1e3 / n)
    put("spark.queue_s", stages.filter(_.firstLaunchMs != Long.MaxValue)
      .map(s => math.max(0L, s.firstLaunchMs - s.submitMs)).sum / 1e3 / n)
    put("spark.core_busy_frac", totalMs / 1e3 / (walls.sum * ctx.cores))
    put("spark.jobs", stages.map(_.jobId).distinct.size / n)
    put("spark.tasks", stages.map(_.tasks.get).sum / n)
    put("spark.failed_tasks", stages.map(_.failed.get).sum / n)
    put("spark.shuffle_bytes", stages.map(_.shuffleBytes.get).sum / n)
    put("export.stage_task_s", taskS(s => Set("StagedExport.scala", "IncrementalExporter.scala")(s.callSiteFile)))
    put("export.fanout_task_s", taskS(_.callSiteFile == "Sinks.scala"))
    val sinkJobs = stages.filter(_.callSiteFile == "Sinks.scala").flatMap(l.jobOf).distinct
    val fanoutNs = sinkJobs.groupBy(_.span).values.map(js => js.map(_.endNs).max - js.map(_.startNs).min).sum
    put("export.fanout_wall_s", fanoutNs / 1e9 / n)
    byTable.foreach { case (t, ms) => put(s"export.table.${t}_task_s", ms / 1e3 / n) }
    put("trace.unattributed_frac", if (totalMs == 0) 0.0 else unattributedMs.toDouble / totalMs)
    put("trace.unmapped_stages", unmapped)
  }

  private def queryMetrics(spans: Seq[Span], n: Double): Unit = {
    def total(name: String) = spans.filter(_.name == name).map(_.seconds).sum / n
    put("queries.register_s", total("registerWarehouse"))
    put("queries.plan_s", total("plan"))
    put("queries.exec_s", total("exec"))
    w match {
      case r: WhRead =>
        put("queries.files_scanned", r.scanned.map(_._1).sum / n)
        put("queries.bytes_scanned", r.scanned.map(_._2).sum / n)
      case _ => ()
    }
    val lookups = spans.filter(_.name == "lookup").map(_.seconds)
    if (lookups.nonEmpty) put("sources.lookup_s", Stats.median(lookups))
    val resumes = spans.filter(_.name == "resume").map(_.seconds)
    if (resumes.nonEmpty) put("export.state.resume_s", Stats.median(resumes))
  }

  /** Task seconds of everything `f` launches, and the stages it ran. */
  private def isolated[A](name: String)(f: => A): (A, Double, Seq[StageFacts]) = {
    drain(); listener.reset()
    val r = tracer.span(name)(f)
    drain()
    val stages = listener.stageList
    (r, stages.map(_.taskMs.get).sum / 1e3, stages)
  }

  private def isolatedLayers(): Unit = {
    val files = in.files
    val (_, scanS, scanStages) = isolated("layer.sources.scan")(Layers.scan(spark, files))
    put("sources.scan_s", scanS)
    put("sources.records", scanStages.map(_.inputRecords.get).sum)
    put("sources.bytes", in.manifest.bytes)
    put("sources.partitions", w match {
      case _: WhIngest => Workloads.eraScan(spark, Seq(in.fileOfEra(in.eras.head))).rdd.getNumPartitions
      case _ => scanStages.map(_.numTasks).sum
    })
    val (d, _, _) = isolated("layer.decode")(Layers.snappyAndDecode(spark, files))
    put("ssz.snappy_s", d.snappyNs / 1e9)
    put("ssz.bytes_out", d.bytesOut)
    put("decode.parse_s", (d.decodeNs - d.snappyNs) / 1e9)
    put("decode.blocks", d.blocks)
    put("decode.rejected", d.rejected)
    ctx.rec.check(s"${w.name} isolated decode", d.blocks == in.manifest.blocks && d.rejected == 0,
      s"decoded ${d.blocks} rejected ${d.rejected} of ${in.manifest.blocks}")
    val (_, rowsS, _) = isolated("layer.operators.rows")(Layers.rows(spark, files))
    put("operators.rows_s", rowsS)
    put("operators.encode_s", rowsS - scanS - (d.decodeNs / 1e9))
    put("operators.child_rows", in.manifest.totalRows)
    put("decode.task_share", d.decodeNs / 1e9 / metrics("spark.task_s"))
  }

  /** Self time: a span's duration minus the union of its children's. */
  private def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
          .filter(k => k._2 > k._1).sortBy(_._1)
        var covered = 0L; var end = Long.MinValue
        kids.foreach { case (a, b) =>
          if (a > end) { covered += b - a; end = b }
          else if (b > end) { covered += b - end; end = b }
        }
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }

  /** Spans of the traced passes plus one per Spark job and stage beneath them. */
  private def writeTrace(spans: Seq[Span], jobs: Seq[JobFacts], stages: Seq[StageFacts]): Unit = {
    val jobSpans = jobs.filter(_.endNs > 0).map(j =>
      j.jobId -> Span(tracer.nextId(), s"job.${j.jobId}", j.span, j.startNs, j.endNs, tracer.runId)).toMap
    val stageSpans = stages.filter(s => s.endNs > 0 && jobSpans.contains(s.jobId)).map(s =>
      Span(tracer.nextId(), s"stage.${s.stageId}", jobSpans(s.jobId).id, s.submitNs, s.endNs, tracer.runId))
    val all = spans ++ jobSpans.values ++ stageSpans
    val self = selfTimes(spans)
    self.toSeq.sortBy(-_._2).take(12).foreach { case (k, v) => println(f"# self $k%-30s $v%10.3f s") }
    val t0 = all.map(_.startNs).minOption.getOrElse(0L)
    Main.write(out, Main.json.writeValueAsString(ListMap(
      "env" -> env,
      "metrics" -> ListMap(metrics.toSeq.map { case (k, v) =>
        k -> ListMap("value" -> Main.value(v), "unit" -> units(k)) }: _*),
      "self_s" -> ListMap(self.toSeq.sortBy(_._1): _*),
      "spans" -> all.map(s => ListMap("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9, "run" -> s.runId)),
      "stages" -> stageRows.result())))
    println(s"# trace written to ${out.getPath}")
  }
}
