package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.PerfbenchBus
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Normalizer

class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val tmp = Files.createTempDirectory("perfbench-spec").toFile
  private lazy val spark = Main.session(2, new File(tmp, "session"))

  private val corpora = scala.collection.mutable.Map.empty[Long, (File, Manifest)]

  /** One small file per fork: every table gets rows somewhere. */
  private def small(seed: Long): (File, Manifest) = corpora.getOrElseUpdate(seed, {
    val shape = Shape("spec", Corpus.forkEras(seed, perFork = 1).map(FileSpec(_, 256)), 0.05, scale = 0.1)
    val dir = new File(tmp, s"corpus-$seed")
    dir -> Corpus.generate(dir, shape, seed, threads = 2)
  })

  override def afterAll(): Unit = {
    spark.stop()
    Corpus.deleteRecursively(tmp)
  }

  test("the same seed gives byte-identical files, another seed different ones") {
    val shape = Shape("det", Corpus.forkEras(7L, perFork = 1).map(FileSpec(_, 64)), 0.05, scale = 0.1)
    val a = Corpus.generate(new File(tmp, "det-a"), shape, 7L, threads = 2)
    val b = Corpus.generate(new File(tmp, "det-b"), shape, 7L, threads = 1)
    val c = Corpus.generate(new File(tmp, "det-c"), shape, 8L, threads = 2)
    assert(a.files.map(_.sha256) == b.files.map(_.sha256))
    assert(a.files.map(_.name).forall(n =>
      Files.readAllBytes(new File(tmp, s"det-a/$n").toPath)
        .sameElements(Files.readAllBytes(new File(tmp, s"det-b/$n").toPath))))
    assert(a.hash == b.hash)
    assert(a.hash != c.hash)
    assert(a.files.map(_.sha256).intersect(c.files.map(_.sha256)).isEmpty)
  }

  test("every block has its own slot and the manifest lists each missed slot") {
    val (_, m) = small(3L)
    m.files.foreach { f =>
      assert(f.blocks + f.missed.size == f.slotCount)
      assert(f.missed.distinct.size == f.missed.size)
    }
    assert(m.files.map(_.fork) == Seq("phase0", "altair", "bellatrix", "capella", "deneb", "electra"))
  }

  test("for every fork, the manifest counts equal a decode through the program") {
    val (dir, m) = small(3L)
    m.files.foreach { f =>
      val blocks = Normalizer.decodeBlocks(Workloads.eraScan(spark, Seq(new File(dir, f.name).getPath))).cache()
      try {
        Corpus.Tables.foreach { t =>
          assert(Normalizer.dataset(blocks, t).count() == f.rows(t), s"${f.fork} $t")
        }
        assert(blocks.map(_.slot)(org.apache.spark.sql.Encoders.scalaLong).collect().toSet ==
          ((0L until f.slotCount).map(_ + f.era * 8192).toSet -- f.missed))
      } finally blocks.unpersist()
    }
    assert(Corpus.Tables.forall(t => m.rows(t) > 0), m.rows)
  }

  test("every call site a traced run sees maps to a module") {
    val (dir, m) = small(5L)
    def forks(fs: String*) = Inputs(dir, m.copy(files = m.files.filter(f => fs.contains(f.fork))))
    val (modules, _) = Main.readLayers()
    val rec = new Recorder
    val ctx = new Ctx(spark, new File(tmp, "run"), 5L, 2, rec)
    val listener = new StageListener
    spark.sparkContext.addSparkListener(listener)
    ctx.tracer = Some(new Tracer("spec", Some(spark.sparkContext)))
    val read = new WhRead
    read.prepare(ctx, Inputs(dir, m))
    new BulkEtl().pass(ctx, Inputs(dir, m), 0)
    new WhIngest().pass(ctx, forks("electra"), 0)
    read.pass(ctx, Inputs(dir, m), 0)
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    assert(rec.failed == 0, rec.failures)
    val sites = listener.stageList.map(_.callSiteFile).distinct
    assert(sites.nonEmpty)
    assert(sites.filterNot(modules.contains).isEmpty, s"unmapped call sites: ${sites.filterNot(modules.contains)}")
  }
}
