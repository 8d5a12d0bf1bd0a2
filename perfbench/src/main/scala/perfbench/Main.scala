package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/**
 * Benchmark entry point (launched by `perfbench/run.py`):
 *
 * {{{
 * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
 *      --benchmark <BENCHMARK.json>
 * }}}
 *
 * Set-up (session start, corpus, preparation, one warm-up pass) is timed
 * first; then one closed-loop client runs passes for `--seconds`. With
 * `--trace 0` the last stdout line carries the end-to-end metrics, with
 * `--trace 1` the per-layer metrics of a traced run. Every output carries an
 * environment stamp; any failed operation or check makes the exit code 1.
 * The metric names and units come from `BENCHMARK.json`.
 */
object Main {
  /** Fresh corpus generations timed during set-up; set-up reports their median. */
  val SetupReps = 3

  /** Renders the harness's JSON outputs (manifest, result line, trace). */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, work: File,
      benchmark: File)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", new File(need("work")), new File(need("benchmark")))
  }

  /** `(name, unit)` of every metric in one list of `BENCHMARK.json`, in its order. */
  def declared(benchmark: File, list: String): Seq[(String, String)] = {
    val n = json.readTree(benchmark).get(list)
    (0 until n.size()).map(i => n.get(i).get("name").asText() -> n.get(i).get("unit").asText())
  }

  /** A metric value for the result line: a number, or null when undefined. */
  def value(v: Double): Option[Double] = Some(v).filterNot(x => x.isNaN || x.isInfinite)

  def session(cores: Int, runDir: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(runDir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(runDir, "spark-warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val workload = Workloads.byName(args.workload).getOrElse {
      System.err.println(s"unknown workload ${args.workload}; known: ${Workloads.all.map(_.name).mkString(", ")}")
      sys.exit(2)
    }
    sys.exit(run(args, workload))
  }

  def run(args: Args, w: Workload): Int = {
    val cores = Runtime.getRuntime.availableProcessors()
    val runDir = new File(args.work, s"run-${w.name}")
    Corpus.deleteRecursively(runDir)
    runDir.mkdirs()
    val rec = new Recorder

    // ── set-up ──────────────────────────────────────────────────────────
    val t0 = System.nanoTime()
    val spark = session(cores, runDir)
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val ctx = new Ctx(spark, runDir, args.seed, cores, rec)
      val shape = w.shape(args.seed)
      // the corpus is generated from scratch several times: the median is the
      // generation cost, the first copy is the run's input, and every later
      // copy must hash like the first
      val dir = new File(runDir, "corpus")
      val t1 = System.nanoTime()
      val manifest = Corpus.generate(dir, shape, args.seed, cores)
      val genS = ((System.nanoTime() - t1) / 1e9) +: (2 to SetupReps).map { i =>
        val g = new File(runDir, s"corpus-$i")
        val t = System.nanoTime()
        val m = Corpus.generate(g, shape, args.seed, cores)
        val s = (System.nanoTime() - t) / 1e9
        rec.check(s"corpus generation $i", m.hash == manifest.hash, s"${m.hash} != ${manifest.hash}")
        Corpus.deleteRecursively(g)
        s
      }
      val in = Inputs(dir, manifest)
      val tPrep = System.nanoTime()
      w.prepare(ctx, in)
      val prepareS = (System.nanoTime() - tPrep) / 1e9
      val tWarm = System.nanoTime()
      w.warmUp(ctx, in)
      val warmS = (System.nanoTime() - tWarm) / 1e9
      val setupS = sessionS + Stats.median(genS) + prepareS + warmS
      rec.clearLatencies()

      val env = ListMap("workload" -> w.name, "seed" -> args.seed, "trace" -> args.trace,
        "nproc" -> cores, "heap_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
        "spark" -> spark.version, "jdk" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
        "corpus_manifest" -> manifest.hash, "corpus_blocks" -> manifest.blocks,
        "corpus_bytes" -> manifest.bytes, "corpus_files" -> manifest.files.size)
      println(s"# env ${json.writeValueAsString(env)}")
      println(f"# setup: session ${sessionS}%.3f s, generation median ${Stats.median(genS)}%.3f s " +
        f"of ${genS.size}, prepare ${prepareS}%.3f s, warm-up ${warmS}%.3f s")
      manifest.files.groupBy(_.fork).toSeq.sortBy(_._2.head.era).foreach { case (fork, fs) =>
        val blocks = fs.map(_.blocks).sum
        println(f"# corpus $fork%-10s ${fs.size}%3d files ${blocks}%7d blocks " +
          f"${fs.map(_.sszBytes).sum.toDouble / blocks}%9.0f SSZ bytes per block")
      }

      val metrics: Seq[(String, Double, String)] =
        if (!args.trace) {
          val walls = passes(ctx, w, in, args.seconds)
          val ops = rec.samples(w.opKind)
          val lines = Seq(("setup_s", setupS, "s", SetupReps), ("wall_s", Stats.median(walls), "s", walls.size),
            ("op_s_p50", Stats.median(ops), "s", ops.size)) ++
            w.report(ctx, in, walls) :+
            ("failed_frac", rec.failed.toDouble / math.max(1L, rec.attempted), "ratio", rec.attempted.toInt)
          lines.foreach { case (n, v, u, k) => println(f"# $n%-18s $v%14.6f $u%-9s (n=$k)") }
          println(s"# pass walls (s): ${walls.map(x => f"$x%.3f").mkString(" ")}")
          declared(args.benchmark, "end_to_end").map { case (n, u) =>
            lines.collectFirst { case (`n`, v, `u`, _) => (n, v, u) }
              .getOrElse(throw new IllegalStateException(s"no end-to-end metric $n in $u"))
          }
        } else {
          val t = new TraceRun(ctx, w, in, env, declared(args.benchmark, "per_layer"),
            new File(args.work, s"trace-${w.name}-s${args.seed}.json"))
          val m = t.run(args.seconds)
          m.foreach { case (n, v, u) => println(f"# $n%-36s $v%16.6f $u") }
          m
        }

      rec.failures.foreach(f => println(s"# FAILED $f"))
      val correct = rec.failed == 0
      val result = ListMap("correct" -> correct, "attempted" -> rec.attempted, "failed" -> rec.failed,
        "metrics" -> ListMap(metrics.map { case (n, v, u) => n -> ListMap("value" -> value(v), "unit" -> u) }: _*))
      println(json.writeValueAsString(result))
      if (correct) 0 else 1
    } finally {
      spark.stop()
      Corpus.deleteRecursively(runDir)
    }
  }

  /** Closed loop: passes until `seconds` have elapsed, and at least one. */
  def passes(ctx: Ctx, w: Workload, in: Inputs, seconds: Double): Seq[Double] = {
    val walls = Seq.newBuilder[Double]
    val start = System.nanoTime()
    var i = 0
    while (i == 0 || (System.nanoTime() - start) / 1e9 < seconds) {
      walls += w.pass(ctx, in, i)
      i += 1
    }
    walls.result()
  }

  def readLayers(): (Map[String, String], Seq[(String, String)]) = {
    val n = json.readTree(getClass.getResourceAsStream("/perfbench/layers.json"))
    import scala.jdk.CollectionConverters._
    val files = n.get("call_site_modules").fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    val spans = n.get("span_layers").fields().asScala.map(e => e.getKey -> e.getValue.asText()).toSeq
    (files, spans)
  }

  def write(f: File, text: String): Unit = {
    f.getParentFile.mkdirs()
    Files.write(f.toPath, text.getBytes(StandardCharsets.UTF_8))
  }
}
