package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.SplittableRandom

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import graft.config.{ForkSchedule, Networks}
import graft.sources.EraFileWriter
import graft.ssz.SnappyFramed
import graft.testkit.SszEncoder

/** One era file of a corpus: `slotCount` slots of `era` starting at the
  * era's first slot. */
final case class FileSpec(era: Long, slotCount: Int)

/** Children per block of one fork, each drawn uniformly between its bounds. */
final case class Traffic(attestations: (Int, Int), transactions: (Int, Int), withdrawals: (Int, Int))

object Traffic {
  /**
   * Block weights of real gnosis blocks, as the repository records them
   * (`BENCH_NOTES.md`, single-core decode table; `OPTIMIZATION_r17.md`, decode
   * kernel): the phase0 block at slot 300 is 902 B of SSZ and the altair block
   * at slot 98300 1,062 B, room for about two attestations; the capella block
   * at slot 10379290 is 33,446 B, of which 128 attestations fill 32 KB, and
   * the deneb block at slot 16383000 is 35,002 B. Bellatrix and electra have
   * no recorded block; like the repository's own fixtures they take the
   * capella and deneb weights. A block holds at most 128 attestations.
   */
  val recorded: Map[String, Traffic] = Map(
    "phase0" -> Traffic((1, 3), (0, 0), (0, 0)),
    "altair" -> Traffic((1, 3), (0, 0), (0, 0)),
    "bellatrix" -> Traffic((120, 128), (0, 4), (0, 0)),
    "capella" -> Traffic((120, 128), (0, 4), (6, 8)),
    "deneb" -> Traffic((120, 128), (4, 16), (6, 8)),
    "electra" -> Traffic((120, 128), (4, 16), (6, 8)))
}

/** What a corpus looks like, independent of its seed. Each fork's blocks
  * carry `scale` times the list sizes of [[Traffic.recorded]]; rare
  * operations (slashings, deposits, exits, BLS changes, blobs, execution
  * requests) occur with fixed per-block probabilities. */
final case class Shape(name: String, files: Seq[FileSpec], missedRate: Double, scale: Double)

/** Expected contents of one generated era file. */
final case class FileManifest(
    name: String, era: Long, fork: String, slotCount: Int, blocks: Int, sszBytes: Long,
    bytes: Long, sha256: String, missed: Seq[Long], rows: Map[String, Long])

final case class Manifest(seed: Long, shape: String, scale: Double, files: Seq[FileManifest]) {
  def blocks: Long = files.map(_.blocks.toLong).sum
  def bytes: Long = files.map(_.bytes).sum
  def rows: Map[String, Long] =
    Corpus.Tables.map(t => t -> files.map(_.rows.getOrElse(t, 0L)).sum).toMap
  def totalRows: Long = rows.values.sum
  def toJson: String = Main.json.writeValueAsString(ListMap(
    "seed" -> seed, "shape" -> shape, "scale" -> scale,
    "files" -> files.map(f => ListMap(
      "name" -> f.name, "era" -> f.era, "fork" -> f.fork,
      "slot_count" -> f.slotCount, "blocks" -> f.blocks, "ssz_bytes" -> f.sszBytes, "bytes" -> f.bytes,
      "sha256" -> f.sha256, "missed" -> f.missed,
      "rows" -> ListMap(Corpus.Tables.map(t => t -> f.rows.getOrElse(t, 0L)): _*)))))
  /** Identity of the inputs: two runs with the same hash read the same bytes. */
  def hash: String = Corpus.sha256(toJson.getBytes(StandardCharsets.UTF_8)).take(16)
}

/**
 * Seeded six-fork gnosis era corpus. Every block is synthesized as
 * beacon-API JSON and encoded through the program's own public writers
 * (`SszEncoder.encodeSignedBlock` → `SnappyFramed.compress` →
 * `EraFileWriter.writeIndexed`), so each file carries a real SlotIndex.
 * Every block has its own slot; a seeded share of slots is missed. The same
 * (shape, seed) always yields byte-identical files, and a `manifest.json`
 * beside them lists what each file holds.
 */
object Corpus {
  val Network = Networks.gnosis
  val Tables: Seq[String] = graft.operators.Normalizer.datasetNames

  /** First era of each fork on gnosis (fork epochs fall on era boundaries). */
  val ForkFirstEra: Seq[(String, Long)] = Seq(
    "phase0" -> 0L,
    "altair" -> 1L,
    "bellatrix" -> Network.forkEpochs("bellatrix") * Network.slotsPerEpoch / 8192,
    "capella" -> Network.forkEpochs("capella") * Network.slotsPerEpoch / 8192,
    "deneb" -> Network.forkEpochs("deneb") * Network.slotsPerEpoch / 8192,
    "electra" -> Network.forkEpochs("electra") * Network.slotsPerEpoch / 8192)

  /** `n` distinct eras of `fork`, chosen by the seed within the first 400
    * of the fork's range (phase0 is era 0 alone on gnosis). */
  def erasOf(seed: Long, fork: String, n: Int): Seq[Long] = {
    val i = ForkFirstEra.indexWhere(_._1 == fork)
    require(i >= 0, s"unknown fork $fork")
    val first = ForkFirstEra(i)._2
    if (fork == "phase0") Seq(0L)
    else {
      val span = math.min(400L, ForkFirstEra.lift(i + 1).map(_._2 - first).getOrElse(400L))
      val rnd = new SplittableRandom(seed * 7919L + 17L * (i + 1))
      Iterator.continually(first + rnd.nextLong(span)).distinct.take(n).toSeq.sorted
    }
  }

  /** `perFork` eras of every fork, in fork order. */
  def forkEras(seed: Long, perFork: Int): Seq[Long] =
    ForkFirstEra.flatMap { case (fork, _) => erasOf(seed, fork, perFork) }

  def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString

  def fileName(era: Long, seed: Long): String =
    f"gnosis-$era%05d-${(seed * 31 + era).toHexString.takeRight(8)}%8s.era".replace(' ', '0')

  def generate(dir: File, shape: Shape, seed: Long, threads: Int): Manifest = {
    dir.mkdirs()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, threads))
    try {
      val futures = shape.files.zipWithIndex.map { case (spec, i) =>
        pool.submit(new java.util.concurrent.Callable[FileManifest] {
          def call(): FileManifest = writeFile(dir, shape, spec, seed, i)
        })
      }
      val m = Manifest(seed, shape.name, shape.scale, futures.map(_.get()))
      Files.write(new File(dir, "manifest.json").toPath, m.toJson.getBytes(StandardCharsets.UTF_8))
      m
    } finally pool.shutdown()
  }

  private def writeFile(dir: File, shape: Shape, spec: FileSpec, seed: Long, index: Int): FileManifest = {
    val rnd = new SplittableRandom(seed * 1000003L + spec.era * 31L + index)
    val first = spec.era * Network.slotsPerHistoricalRoot
    val fork = ForkSchedule.forkAt(first, Network)
    val gen = new BlockGen(rnd, shape, fork)
    val rows = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val missed = Seq.newBuilder[Long]
    val blocks = Seq.newBuilder[(Long, Array[Byte])]
    var sszBytes = 0L
    var parent = gen.bytes(32)
    var slot = first
    while (slot < first + spec.slotCount) {
      // slot 0 is genesis and never carries a block
      if (slot == 0 || rnd.nextDouble() < shape.missedRate) missed += slot
      else {
        val (json, counts) = gen.block(slot, parent)
        counts.foreach { case (t, n) => rows(t) += n }
        val ssz = SszEncoder.encodeSignedBlock(json, fork)
        sszBytes += ssz.length
        blocks += slot -> SnappyFramed.compress(ssz)
        parent = gen.bytes(32)
      }
      slot += 1
    }
    val bs = blocks.result()
    val f = new File(dir, fileName(spec.era, seed))
    val out = new BufferedOutputStream(new FileOutputStream(f), 1 << 20)
    try EraFileWriter.writeIndexed(out, bs,
      state = Some((first + spec.slotCount.toLong, gen.bytes(64))),
      startSlot = first, slotCount = spec.slotCount)
    finally out.close()
    val bytes = Files.readAllBytes(f.toPath)
    FileManifest(f.getName, spec.era, fork, spec.slotCount, bs.size, sszBytes, bytes.length.toLong,
      sha256(bytes), missed.result(), Tables.map(t => t -> rows(t)).toMap)
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }
}

/** Beacon-API JSON for one block of `fork`, with seeded child counts. */
private final class BlockGen(rnd: SplittableRandom, shape: Shape, fork: String) {
  private val traffic = Traffic.recorded(fork)
  private val mapper = new ObjectMapper()
  private val cfg = Corpus.Network
  private val hexDigits = "0123456789abcdef".toCharArray

  def bytes(n: Int): Array[Byte] = { val b = new Array[Byte](n); rnd.nextBytes(b); b }

  def hex(n: Int): String = hexOf(bytes(n))

  def hexOf(b: Array[Byte]): String = {
    val n = b.length
    val c = new Array[Char](2 + 2 * n)
    c(0) = '0'; c(1) = 'x'
    var i = 0
    while (i < n) {
      c(2 + 2 * i) = hexDigits((b(i) >> 4) & 0xf); c(3 + 2 * i) = hexDigits(b(i) & 0xf); i += 1
    }
    new String(c)
  }

  /** A list size between the bounds, scaled by the shape. */
  private def between(bounds: (Int, Int)): Int = {
    val lo = math.round(bounds._1 * shape.scale).toInt
    val hi = math.round(bounds._2 * shape.scale).toInt
    lo + rnd.nextInt(hi - lo + 1)
  }
  private def maybe(p: Double, max: Int = 1): Int =
    if (rnd.nextDouble() < p) 1 + rnd.nextInt(max) else 0
  private def num(bound: Long): String = rnd.nextLong(bound).toString

  private def attData(o: ObjectNode, slot: Long): Unit = {
    val d = o.putObject("data")
    val epoch = slot / cfg.slotsPerEpoch
    d.put("slot", math.max(0L, slot - 1 - rnd.nextInt(4)).toString)
    d.put("index", num(64))
    d.put("beacon_block_root", hex(32))
    val s = d.putObject("source"); s.put("epoch", math.max(0L, epoch - 2).toString); s.put("root", hex(32))
    val t = d.putObject("target"); t.put("epoch", math.max(0L, epoch - 1).toString); t.put("root", hex(32))
  }

  private def header(o: ObjectNode, slot: Long, proposer: String): Unit = {
    val m = o.putObject("message")
    m.put("slot", slot.toString); m.put("proposer_index", proposer)
    m.put("parent_root", hex(32)); m.put("state_root", hex(32)); m.put("body_root", hex(32))
    o.put("signature", hex(96))
  }

  private def indexed(o: ObjectNode, slot: Long, validators: Seq[Long]): Unit = {
    val idx = o.putArray("attesting_indices")
    validators.foreach(v => idx.add(v.toString))
    attData(o, slot)
    o.put("signature", hex(96))
  }

  /** One block's JSON (`data` node) and its expected rows per table. */
  def block(slot: Long, parentRoot: Array[Byte]): (ObjectNode, Seq[(String, Long)]) = {
    val data = mapper.createObjectNode()
    val msg = data.putObject("message")
    msg.put("slot", slot.toString)
    msg.put("proposer_index", num(200000))
    msg.put("parent_root", hexOf(parentRoot))
    msg.put("state_root", hex(32))
    val body = msg.putObject("body")
    body.put("randao_reveal", hex(96))
    val eth1 = body.putObject("eth1_data")
    eth1.put("deposit_root", hex(32)); eth1.put("deposit_count", num(1000000)); eth1.put("block_hash", hex(32))
    body.put("graffiti", hex(32))

    val nProp = maybe(0.01)
    val props = body.putArray("proposer_slashings")
    (0 until nProp).foreach { _ =>
      val s = props.addObject(); val p = num(200000)
      header(s.putObject("signed_header_1"), slot - 1, p)
      header(s.putObject("signed_header_2"), slot - 1, p)
    }
    val nAttSl = maybe(0.01)
    val attSl = body.putArray("attester_slashings")
    (0 until nAttSl).foreach { _ =>
      val s = attSl.addObject()
      val base = rnd.nextLong(100000)
      indexed(s.putObject("attestation_1"), slot, (0 until 1 + rnd.nextInt(4)).map(base + _))
      indexed(s.putObject("attestation_2"), slot, (0 until 1 + rnd.nextInt(4)).map(base + 1 + _))
    }
    val nAtt = between(traffic.attestations)
    val atts = body.putArray("attestations")
    (0 until nAtt).foreach { _ =>
      val a = atts.addObject()
      val bits = bytes(8 + rnd.nextInt(24))
      bits(bits.length - 1) = (bits(bits.length - 1) | 0x80).toByte
      a.put("aggregation_bits", hexOf(bits))
      attData(a, slot)
      a.put("signature", hex(96))
    }
    val nDep = maybe(0.02, 2)
    val deps = body.putArray("deposits")
    (0 until nDep).foreach { _ =>
      val d = deps.addObject()
      val proof = d.putArray("proof")
      (0 until 33).foreach(_ => proof.add(hex(32)))
      val dd = d.putObject("data")
      dd.put("pubkey", hex(48)); dd.put("withdrawal_credentials", hex(32))
      dd.put("amount", (1000000000L * (1 + rnd.nextInt(32))).toString); dd.put("signature", hex(96))
    }
    val nExit = maybe(0.02, 2)
    val exits = body.putArray("voluntary_exits")
    (0 until nExit).foreach { _ =>
      val e = exits.addObject(); val m = e.putObject("message")
      m.put("epoch", (slot / cfg.slotsPerEpoch).toString); m.put("validator_index", num(200000))
      e.put("signature", hex(96))
    }
    var counts = Vector[(String, Long)]("blocks" -> 1L, "proposer_slashings" -> nProp.toLong,
      "attester_slashings" -> nAttSl.toLong, "attestations" -> nAtt.toLong,
      "deposits" -> nDep.toLong, "voluntary_exits" -> nExit.toLong)

    if (ForkSchedule.hasSyncAggregate(fork)) {
      val s = body.putObject("sync_aggregate")
      s.put("sync_committee_bits", hex(64)); s.put("sync_committee_signature", hex(96))
      counts :+= "sync_aggregates" -> 1L
    }
    if (ForkSchedule.hasExecutionPayload(fork)) {
      val p = body.putObject("execution_payload")
      p.put("parent_hash", hex(32)); p.put("fee_recipient", hex(20)); p.put("state_root", hex(32))
      p.put("receipts_root", hex(32)); p.put("logs_bloom", hex(256)); p.put("prev_randao", hex(32))
      p.put("block_number", (slot / 2).toString); p.put("gas_limit", "17000000")
      p.put("gas_used", num(17000000)); p.put("timestamp", (cfg.genesisTime + slot * cfg.secondsPerSlot).toString)
      p.put("extra_data", hex(rnd.nextInt(32))); p.put("base_fee_per_gas", num(100000000000L))
      p.put("block_hash", hex(32))
      val nTx = between(traffic.transactions)
      val txs = p.putArray("transactions")
      (0 until nTx).foreach(_ => txs.add(hex(100 + rnd.nextInt(200))))
      counts ++= Seq("execution_payloads" -> 1L, "transactions" -> nTx.toLong)
      if (ForkSchedule.hasWithdrawals(fork)) {
        val nW = between(traffic.withdrawals)
        val ws = p.putArray("withdrawals")
        (0 until nW).foreach { i =>
          val w = ws.addObject()
          w.put("index", (slot * 8 + i).toString); w.put("validator_index", num(200000))
          w.put("address", hex(20)); w.put("amount", num(100000000L))
        }
        counts :+= "withdrawals" -> nW.toLong
      }
      if (ForkSchedule.hasBlobCommitments(fork)) {
        p.put("blob_gas_used", (131072L * rnd.nextInt(3)).toString); p.put("excess_blob_gas", num(1000000))
      }
    }
    if (ForkSchedule.hasBlsChanges(fork)) {
      val n = maybe(0.05, 2)
      val cs = body.putArray("bls_to_execution_changes")
      (0 until n).foreach { _ =>
        val c = cs.addObject(); val m = c.putObject("message")
        m.put("validator_index", num(200000)); m.put("from_bls_pubkey", hex(48))
        m.put("to_execution_address", hex(20)); c.put("signature", hex(96))
      }
      counts :+= "bls_changes" -> n.toLong
    }
    if (ForkSchedule.hasBlobCommitments(fork)) {
      val n = rnd.nextInt(4)
      val bc = body.putArray("blob_kzg_commitments")
      (0 until n).foreach(_ => bc.add(hex(48)))
      counts :+= "blob_commitments" -> n.toLong
    }
    if (ForkSchedule.hasExecutionRequests(fork)) {
      val er = body.putObject("execution_requests")
      val nd = maybe(0.05, 2); val nw = maybe(0.03); val nc = maybe(0.02)
      val ds: ArrayNode = er.putArray("deposits")
      (0 until nd).foreach { _ =>
        val d = ds.addObject()
        d.put("pubkey", hex(48)); d.put("withdrawal_credentials", hex(32))
        d.put("amount", "32000000000"); d.put("signature", hex(96)); d.put("index", num(1000000))
      }
      val ws = er.putArray("withdrawals")
      (0 until nw).foreach { _ =>
        val w = ws.addObject()
        w.put("source_address", hex(20)); w.put("validator_pubkey", hex(48)); w.put("amount", num(32000000000L))
      }
      val cs = er.putArray("consolidations")
      (0 until nc).foreach { _ =>
        val c = cs.addObject()
        c.put("source_address", hex(20)); c.put("source_pubkey", hex(48)); c.put("target_pubkey", hex(48))
      }
      counts ++= Seq("deposit_requests" -> nd.toLong, "withdrawal_requests" -> nw.toLong,
        "consolidation_requests" -> nc.toLong)
    }
    data.put("signature", hex(96))
    (data, counts)
  }
}
