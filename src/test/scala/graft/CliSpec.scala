package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.Fixtures

/** End-to-end CLI conversion tests: the reference's -M/-P flow (tables →
  * full-history .dat dataset; bodies → txbodies dataset) driven through
  * graft.Cli's library entry points on fixture tables laid out exactly as
  * the ingest contract documents.
  */
class CliSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.withDefaults(SparkSession.builder())
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def writeTables(dir: String): Fixtures.World = {
    val w = Fixtures.generate(spark, nAddresses = 12, nBlocks = 40)
    w.accountChangeset.write.mode("overwrite")
      .parquet(s"$dir/account_changeset")
    w.storageChangeset.write.mode("overwrite")
      .parquet(s"$dir/storage_changeset")
    w.plainCodeHash.write.mode("overwrite").parquet(s"$dir/plain_code_hash")
    w.plainStateAccounts.write.mode("overwrite")
      .parquet(s"$dir/plain_state_accounts")
    w.plainStateStorage.write.mode("overwrite")
      .parquet(s"$dir/plain_state_storage")
    w
  }

  test("convert: tables -> full-history .dat dataset, read-back equality") {
    val tables = java.nio.file.Files
      .createTempDirectory("graft-cli-tables").toString
    val out = java.nio.file.Files
      .createTempDirectory("graft-cli-out").toString
    val w = writeTables(tables)
    val (latest, start) = Cli.convert(spark, tables, out)
    assert(latest == w.latestBlock && start == 0L)
    val back = graft.spark.StateFiles.read(spark, out, strategy = 0)
    val expected = graft.spark.StateFormat.asItems(
      pipeline.FullHistory.build(spark, w.accountChangeset,
        w.storageChangeset, w.plainCodeHash, w.plainStateAccounts,
        w.plainStateStorage, w.latestBlock)
        .withColumnRenamed("valid_from_block", "block"))
    assert(back.count() == expected.count())
    // manifest records the conversion block range
    val mf = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "_manifest.json")))
    assert(mf.contains(s"\"block_end\":$latest"), mf)
    // anomaly telemetry (SURVEY §5 mechanism 3) rides the manifest and
    // is ZERO on the well-formed fixture chain
    assert(mf.contains("\"anomaly_incarnation_decrease\":0") &&
      mf.contains("\"anomaly_codehash_no_incarnation\":0"), mf)
    assert(pipeline.FullHistory.nonAdvancingCount(
      pipeline.FullHistory.mergedStream(w.accountChangeset,
        w.storageChangeset, w.plainCodeHash, w.plainStateAccounts,
        w.plainStateStorage, w.latestBlock)) == 0L)
  }

  test("convert --prune: only the keep-window tail survives") {
    val tables = java.nio.file.Files
      .createTempDirectory("graft-cli-tables2").toString
    val out = java.nio.file.Files
      .createTempDirectory("graft-cli-out2").toString
    val w = writeTables(tables)
    // fixture latest (40) < 90,000 keep window -> prune keeps everything
    val (latest, start) = Cli.convert(spark, tables, out, prune = true)
    assert(start == 0L && latest == 40L)
    assert(Cli.PruneKeepBlocks == 90000L)

    // the REAL keep-window branch, with a window smaller than the chain:
    // keepBlocks=10 on latest=40 -> blockStart = 31
    val out2 = java.nio.file.Files
      .createTempDirectory("graft-cli-out3").toString
    val (latest2, start2) = Cli.convert(spark, tables, out2, prune = true,
      keepBlocks = 10L)
    assert(latest2 == 40L && start2 == 31L)
    // read-back equals a direct pruned build
    val back = graft.spark.StateFiles.read(spark, out2, strategy = 0)
    val expected = graft.spark.StateFormat.asItems(
      pipeline.FullHistory.build(spark, w.accountChangeset,
        w.storageChangeset, w.plainCodeHash, w.plainStateAccounts,
        w.plainStateStorage, w.latestBlock, blockStart = 31L)
        .withColumnRenamed("valid_from_block", "block"))
    assert(back.count() == expected.count())
    assert(back.count() < graft.spark.StateFiles.read(spark, out,
      strategy = 0).count(), "pruned dataset must be smaller than full")
    // no changeset-derived row below the window (PlainState rows carry
    // latest+1; changeset rows pruned to >= blockStart keep their blocks)
    val minBlock = back.toDF().agg(min(col("block"))).collect()(0).getLong(0)
    assert(minBlock >= 31L || minBlock == 0L)
  }

  test("asof: flagship point read on a converted dataset matches the " +
      "chain oracle (account, storage, pre-existence)") {
    import graft.functions.Bytes
    import graft.spark.datasource.{DatPageMetrics, DatSidecarCache}
    import org.apache.spark.sql.graftshim.Bridge
    val tables = java.nio.file.Files
      .createTempDirectory("graft-cli-asof-tables").toString
    val out = java.nio.file.Files
      .createTempDirectory("graft-cli-asof-out").toString
    val w = writeTables(tables)
    Cli.convert(spark, tables, out)
    // every probe is an in-process page seek: it launches no Spark job
    // and decodes only the few pages whose .idx bounds match
    def pagesDecoded(): Long = DatPageMetrics.pagesDecoded.sum()
    def probe(addressHex: String, block: Long,
              slotHex: Option[String] = None): Option[model.StateItem] = {
      val d0 = pagesDecoded()
      val r = Cli.asOf(spark, out, 0, addressHex, block, slotHex)
      val pages = pagesDecoded() - d0
      assert(pages <= 4L, s"asOf($addressHex @ $block) decoded $pages pages")
      r
    }
    // mid-chain account probe: as-of AT a touch block must return exactly
    // that oracle entry (history row valid FROM it)
    val (addr, touches) = w.accountOracle.groupBy(_.addressHex)
      .maxBy(_._2.size)
    val sorted = touches.sortBy(_.block)
    val probeAt = sorted(sorted.size / 2)
    val (_, stTouches) = w.storageOracle
      .groupBy(o => (o.addressHex, o.slotHex)).maxBy(_._2.size)
    val stSorted = stTouches.sortBy(_.block)
    val sp = stSorted(stSorted.size / 2)
    // the oracles and convert run jobs of their own; count from here on
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    Bridge.waitListenerBusEmpty(spark)
    spark.sparkContext.addSparkListener(listener)
    val (res, sres) = try {
      val res = probe(addr, probeAt.block)
        .getOrElse(fail("account probe found nothing"))
      assert(!res.isStorage && res.block == probeAt.block)
      assert(res.nonce == probeAt.nonce &&
        res.incarnation == probeAt.incarnation)
      assert(BigInt(Bytes.hex(res.balance), 16) == BigInt(probeAt.balance))
      // storage probe through the same dataset
      val sres = probe(sp.addressHex, sp.block, Some(sp.slotHex))
        .getOrElse(fail("storage probe found nothing"))
      assert(sres.isStorage && sres.block == sp.block)
      assert(BigInt(Bytes.hex(sres.value), 16) == BigInt(sp.value))
      // before the first touch the zero-state row answers (account did
      // not exist yet): valid_from 0, zeroed fields
      if (sorted.head.block > 1) {
        val r0 = probe(addr, sorted.head.block - 1)
          .getOrElse(fail("pre-existence probe found nothing"))
        assert(r0.block == 0L && r0.nonce == 0L &&
          BigInt(Bytes.hex(r0.balance), 16) == 0)
      }
      Bridge.waitListenerBusEmpty(spark)
      (res, sres)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get == 0, s"as-of probes launched ${jobs.get} Spark jobs")

    // an orphan part (a .dat/.idx pair outside the manifest's file_list,
    // as a failed append leaves it) holding a newer version of the probed
    // account stays invisible
    val latest = probe(addr, Long.MaxValue).getOrElse(fail("no latest row"))
    val orphanDir = java.nio.file.Files
      .createTempDirectory("graft-cli-asof-orphan").toString
    import spark.implicits._
    graft.spark.StateFiles.write(spark.createDataset(Seq(
      model.StateItem.account(latest.address, latest.block + 1,
        latest.nonce + 100, latest.incarnation, latest.balance,
        latest.codeHash))).coalesce(1), orphanDir, strategy = 0)
    val orphanName = graft.spark.StateFiles.manifestFileList(orphanDir)
      .get.head.stripSuffix(".dat")
    for (ext <- Seq(".dat", ".idx"))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(orphanDir, orphanName + ext),
        java.nio.file.Paths.get(out, "part-09999" + ext))
    val afterOrphan = probe(addr, Long.MaxValue)
      .getOrElse(fail("orphan hid the committed row"))
    assert(afterOrphan.block == latest.block &&
      afterOrphan.nonce == latest.nonce, "orphan part leaked into asOf")
    // the same files without the manifest do show the orphan's row
    val unmanaged = java.nio.file.Files
      .createTempDirectory("graft-cli-asof-nomanifest")
    new java.io.File(out).listFiles()
      .filter(f => f.getName.endsWith(".dat") || f.getName.endsWith(".idx"))
      .foreach(f => java.nio.file.Files.copy(f.toPath,
        unmanaged.resolve(f.getName)))
    assert(Cli.asOf(spark, unmanaged.toString, 0, addr, Long.MaxValue)
      .map(_.block).contains(latest.block + 1))

    // without the .idx sidecars the reader decodes whole splits: the same
    // answers, and no page counted as decoded by pruning
    new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".idx")).foreach(_.delete())
    DatSidecarCache.clear()
    val d0 = pagesDecoded()
    val noIdx = Cli.asOf(spark, out, 0, addr, probeAt.block)
      .getOrElse(fail("account probe without .idx found nothing"))
    assert(noIdx.block == res.block && noIdx.nonce == res.nonce &&
      noIdx.balance.sameElements(res.balance))
    val sNoIdx = Cli.asOf(spark, out, 0, sp.addressHex, sp.block,
        Some(sp.slotHex))
      .getOrElse(fail("storage probe without .idx found nothing"))
    assert(sNoIdx.block == sres.block && sNoIdx.value.sameElements(sres.value))
    assert(pagesDecoded() == d0, "decoded pages counted without a sidecar")

    // a committed part with a corrupt header magic fails the lookup with
    // the planner's validation error instead of answering (the cache is
    // cleared so an mtime-granularity hit cannot mask the rewrite)
    val part = graft.spark.StateFiles.manifestFileList(out).get.head
    val raf = new java.io.RandomAccessFile(
      java.nio.file.Paths.get(out, part).toFile, "rw")
    try raf.write(new Array[Byte](8)) finally raf.close()
    DatSidecarCache.clear()
    val e = intercept[IllegalArgumentException](
      Cli.asOf(spark, out, 0, addr, probeAt.block))
    assert(e.getMessage.contains("bad magic"), e.getMessage)
  }

  test("check: decoded totals match the manifest after convert") {
    val tables = java.nio.file.Files
      .createTempDirectory("graft-cli-check-t").toString
    val out = java.nio.file.Files
      .createTempDirectory("graft-cli-check-o").toString
    writeTables(tables)
    Cli.convert(spark, tables, out)
    // the check command's core comparison, invoked as a library call
    val items = graft.spark.StateFiles.read(spark, out, strategy = 0)
    val counts = items.toDF().groupBy(col("isStorage")).count()
      .collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    val mf = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "_manifest.json")))
    assert(mf.contains(s""""accounts":${counts.getOrElse(false, 0L)}"""),
      mf)
    assert(mf.contains(
      s""""storage_slots":${counts.getOrElse(true, 0L)}"""), mf)
  }

  test("compact after convert: one generation, totals and content intact") {
    val tables = java.nio.file.Files
      .createTempDirectory("graft-cli-compact-t").toString
    val out = java.nio.file.Files
      .createTempDirectory("graft-cli-compact-o").toString
    writeTables(tables)
    Cli.convert(spark, tables, out)
    val before = graft.spark.StateFiles.read(spark, out, strategy = 0)
      .toDF().count()
    graft.spark.StateFiles.compact(spark, out, strategy = 0,
      targetParts = 1)
    val filesAfter = graft.spark.StateFiles.manifestFileList(out).get
    assert(filesAfter.size == 1, s"files after: $filesAfter")
    val after = graft.spark.StateFiles.read(spark, out, strategy = 0)
      .toDF().count()
    assert(after == before, s"rows $before -> $after across compaction")
    // the check command's comparison still holds on the new generation
    val counts = graft.spark.StateFiles.read(spark, out, strategy = 0)
      .toDF().groupBy(col("isStorage")).count()
      .collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    val mf = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "_manifest.json")))
    assert(mf.contains(s""""accounts":${counts.getOrElse(false, 0L)}"""),
      mf)
    assert(mf.contains(
      s""""storage_slots":${counts.getOrElse(true, 0L)}"""), mf)
  }

  test("txbodies: tables -> varint record dataset, counts match") {
    val tables = java.nio.file.Files
      .createTempDirectory("graft-cli-tx").toString
    val out = java.nio.file.Files
      .createTempDirectory("graft-cli-txout").toString
    val tw = Fixtures.generateTxWorld(spark, nBlocks = 60, seed = 11L)
    tw.bodies.write.mode("overwrite").parquet(s"$tables/block_bodies")
    tw.transactions.write.mode("overwrite")
      .parquet(s"$tables/block_transactions")
    val (files, blocks, bytes) = Cli.txbodies(spark, tables, out)
    assert(blocks == tw.bodies.count())
    assert(files > 0 && bytes > 0)
    val back = graft.spark.TxBodyFiles.read(spark, out)
    assert(back.count() == blocks)
    assert(back.agg(sum(size(col("txs")))).collect()(0).getLong(0)
      == tw.totalTxs)
  }

  // The reference's show_file contract (erigon_extract.c:1998-2002): "The
  // printed output should be identical to the formatted output if PRINT
  // was set when generating that file" — reader print ≡ writer print
  // trace, so a decoded stream is byte-diffable against what the writer
  // logged. Pinned here as (a) a golden literal for the line format
  // itself, (b) writer-trace ≡ reader-trace through a real encode/decode
  // round trip on every strategy, (c) the `show` CLI's full stdout.
  test("show: decoder print output is diffable against the writer trace") {
    import graft.codec.{StateReader, StateWriter}
    import graft.functions.Bytes
    import graft.model.StateItem

    val addr = Bytes.unhex("00112233445566778899aabbccddeeff00112233")
    def b32(last: Int): Array[Byte] = {
      val a = new Array[Byte](32); a(31) = last.toByte; a
    }
    val acct = StateItem.account(addr, block = 7L, nonce = 5L,
      incarnation = 1L, balance = b32(0x2a), codeHash = b32(0x01))
    val acctEmptyCode = StateItem.account(addr, block = 9L, nonce = 6L,
      incarnation = 1L, balance = b32(0x2b),
      codeHash = StateItem.EmptyCodeHash.clone())
    val stor = StateItem.storage(addr, block = 9L, incarnation = 1L,
      slot = b32(0x03), value = b32(0x04))

    // (a) the format golden — any drift here breaks diffability of traces
    // recorded by earlier builds
    assert(Show.format(acct) ==
      "Account block=7 " +
        "address=00112233445566778899aabbccddeeff00112233\n" +
        "        inc=1 nonce=5 balance=" + "0" * 62 + "2a\n" +
        "        codeHash=" + "0" * 62 + "01")
    assert(Show.format(stor) ==
      "Storage block=9 " +
        "slot=00112233445566778899aabbccddeeff00112233/" +
        "0" * 62 + "03\n" +
        "        inc=1 value=" + "0" * 62 + "04")

    // (b) writer trace == reader trace across the production strategies
    // (2 is writer-only — the reference's own reader cannot decode it —
    // and 3 round-trips only on its transpose-ordered subset, SURVEY.md
    // §2.9 / CodecSpec); the writer prints what it encodes
    // (empty-code-hash normalization included, erigon_extract.c:832-838),
    // the reader prints what it decodes
    val items = Seq(acct, acctEmptyCode, stor)
    val writerTrace = items.map(i =>
      Show.format(if (!i.isStorage &&
          java.util.Arrays.equals(i.codeHash, StateItem.EmptyCodeHash))
        i.copy(codeHash = StateItem.zeros(32)) else i))
    for (strategy <- Seq(0, 1)) {
      val w = new StateWriter(strategy)
      items.foreach(w.write)
      val readerTrace =
        new StateReader(strategy, w.toArray).toSeq.map(Show.format)
      assert(readerTrace == writerTrace, s"strategy=$strategy")
    }

    // (c) the CLI surface end-to-end: `show` prints exactly the trace
    // plus the item count
    val w0 = new StateWriter(0)
    items.foreach(w0.write)
    val f = java.nio.file.Files.createTempFile("graft-show", ".dat")
    java.nio.file.Files.write(f, w0.toArray)
    val bos = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(bos, true, "UTF-8")) {
      Show.main(Array("0", f.toString))
    }
    java.nio.file.Files.delete(f)
    assert(bos.toString("UTF-8") ==
      writerTrace.mkString("", "\n", "\n") + s"${items.size} items\n")
  }
}
