package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, max}

import graft.{Cli, Sessions, SparkEntry}
import graft.codec.{StateReader, StateWriter}
import graft.functions.Bytes
import graft.model.StateItem
import graft.pipeline.{Fixtures, FullHistory}
import graft.spark.{StateFiles, StateFormat}
import graft.spark.datasource.DatPageMetrics

/** The three workloads and the traced layer split.
  *
  * Every run: set up [[Main.SetupReps]] times on fresh sessions (median is
  * `setup_s`), record the cold first operation, warm up until successive
  * timings level off, measure for `--seconds`, then check the outputs
  * outside the timed region. A traced run splits its window into an
  * untraced and a traced half (their ratio is the tracing overhead), times
  * each layer on its own, and runs one short pass of every layer its
  * workload skips, so each per-layer metric is measured in every run.
  */
final class Bench(conf: Main.Conf) {
  import Main._

  private val work = new java.io.File(".").getCanonicalPath
  private val cpus = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
    .getOrElse(Runtime.getRuntime.availableProcessors)
  private val tracer = new Tracer(conf.trace)
  val report = new Report
  private var spark: SparkSession = _
  private val rnd = new scala.util.Random(conf.seed)
  private val tablesDir =
    Fixtures.cacheBase(conf.addresses, conf.blocks, conf.seed)
  private var injectWrong = conf.inject("wrong_answer")

  // ---- sessions, timing, files ----

  private def phase(name: String): Unit = {
    val up = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    System.err.println(f"[perfbench] $up%.1f s: $name")
  }

  private def newSession(): Unit = {
    tracer.detach()
    if (spark != null) spark.stop()
    spark = Sessions.withDefaults(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    tracer.attach(spark)
  }

  def close(): Unit = if (spark != null) { spark.stop(); spark = null }

  private def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  private def rmrf(path: String): Unit =
    FileUtils.deleteDirectory(new java.io.File(path))

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Repeats `op` for `secs` of wall time (at least once) and returns
    * the durations of the operations that succeeded.
    */
  private def measure(secs: Double)(op: => Option[Double]): Seq[Double] = {
    val xs = ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    var misses = 0
    while ((xs.isEmpty || (System.nanoTime() - t0) / 1e9 < secs) &&
      misses < 3) op match {
      case Some(x) => xs += x; misses = 0
      case None => misses += 1
    }
    xs.toSeq
  }

  /** Warm-up after the cold first operation: runs `op` at least once,
    * then until two successive timings are within 5 % of each other,
    * `maxReps` runs or `budget` seconds.
    */
  private def warm(maxReps: Int, budget: Double)(op: => Option[Double])
      : Unit = {
    phase("warm-up")
    val xs = ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    def flat = xs.size >= 2 &&
      math.abs(xs.last - xs(xs.size - 2)) <= 0.05 * xs(xs.size - 2)
    var tries = 0
    while (tries < maxReps && !flat &&
      (tries == 0 || (System.nanoTime() - t0) / 1e9 < budget)) {
      op.foreach(xs += _); tries += 1
    }
    report.notes += s"warm-up: ${xs.map(x => f"$x%.3f").mkString(" ")} s"
  }

  /** The measurement window. Traced runs measure the first half with
    * counting off and the second with it on.
    */
  private def window(op: => Option[Double]): (Seq[Double], Seq[Double]) = {
    phase("window")
    if (!conf.trace) (measure(conf.seconds)(op), Nil)
    else {
      tracer.counting = false
      val plain = measure(conf.seconds / 2)(op)
      tracer.counting = true
      (plain, measure(conf.seconds / 2)(op))
    }
  }

  private def overhead(plain: Seq[Double], traced: Seq[Double]): Unit =
    if (traced.nonEmpty)
      report.put("trace.overhead_share",
        Stats.median(traced) / Stats.median(plain) - 1.0, "share")

  /** Figures of one unit of work over the spans recorded since `mark`,
    * at the median duration of each kind of operation in it (`kinds`:
    * span name -> operations per unit): work per second of wall time and
    * of process CPU time.
    */
  private def throughput(mark: Int, perUnit: Double,
                         kinds: Seq[(String, Int)]): Unit = {
    def unit(f: Span => Double) = kinds.map { case (name, n) =>
      n * Stats.median(tracer.since(mark, name).map(f)) }.sum
    report.put("work_per_s", perUnit / unit(_.seconds), "1/s")
    report.put("bench.work_per_cpu_s", perUnit / unit(_.cpuSeconds), "1/s")
  }

  /** `op_p50_ms` and its CPU time: the workload's unit operation, made of
    * the named spans since `mark`, at the median of each.
    */
  private def opTime(mark: Int, names: Seq[String]): Unit = {
    val spans = names.map(tracer.since(mark, _))
    def at(f: Span => Double) = spans.map(xs => Stats.median(xs.map(f))).sum
    report.put("op_p50_ms", at(_.seconds) * 1000, "ms")
    report.put("bench.op_cpu_ms", at(_.cpuSeconds) * 1000, "ms")
    report.spreads("op_p50_ms") = names.zip(spans).map { case (n, xs) =>
      s"$n ${Stats.describe(xs.map(_.seconds * 1000))}" }.mkString("; ")
  }

  /** Share of CPU time the host took from this machine's virtual CPUs
    * (steal), between two samples of /proc/stat.
    */
  private def cpuStat(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat").getLines().next()
      .split("\\s+").drop(1).map(_.toLong)
    (f.lift(7).getOrElse(0L), f.sum)
  }

  private def putSteal(from: (Long, Long)): Unit = {
    val (s1, t1) = cpuStat()
    report.put("host.steal_share",
      (s1 - from._1).toDouble / math.max(1L, t1 - from._2), "share")
  }

  // ---- the fixture world and its oracle ----

  /** Generates the seed's world on first use; its cold generation time
    * is kept beside it and is no part of any run metric.
    */
  private def ensureWorld(): Unit = {
    phase("world")
    val genFile = Paths.get(tablesDir, "_generate_seconds")
    if (!Files.exists(genFile)) {
      if (spark == null) newSession()
      val sim = seconds {
        Fixtures.simulate(conf.addresses, conf.blocks, conf.seed) }
      val dump = seconds {
        Fixtures.generate(spark, conf.addresses, conf.blocks, conf.seed) }
      report.notes += f"world: simulate $sim%.2f s, parquet dump $dump%.2f s"
      Files.writeString(genFile, (sim + dump).toString)
    }
    report.put("fixtures.generate_s",
      Files.readString(genFile).trim.toDouble, "s")
  }

  private def loadWorld(): Fixtures.World = {
    val w = Fixtures.generate(spark, conf.addresses, conf.blocks, conf.seed)
    report.put("fixtures.changeset_rows",
      (w.accountOracle.size + w.storageOracle.size).toDouble, "count")
    w
  }

  private def table(name: String): DataFrame =
    spark.read.parquet(s"$tablesDir/$name")

  private def latestBlock(): Long =
    table("account_changeset").select(col("block"))
      .unionByName(table("storage_changeset").select(col("block")))
      .agg(max(col("block"))).collect()(0).getLong(0)

  /** The converted history and its items, Cli.convert's input to
    * StateFiles.write.
    */
  private def historyItems(latest: Long): (DataFrame, Dataset[StateItem]) = {
    val hist = FullHistory.build(spark, table("account_changeset"),
      table("storage_changeset"), table("plain_code_hash"),
      table("plain_state_accounts"), table("plain_state_storage"), latest)
    val items = StateFormat.asItems(
      hist.withColumnRenamed("valid_from_block", "block"))
    (hist, items)
  }

  private var oracle: Oracle = _

  private final case class Probe(addr: String, slot: Option[String],
                                 block: Long) {
    override def toString: String =
      s"asOf($addr${slot.fold("")(" slot " + _)} @ $block)"
  }

  private final class Oracle(w: Fixtures.World) {
    val accounts: Map[String, Array[Fixtures.AccountAfter]] =
      w.accountOracle.groupBy(_.addressHex)
        .map { case (k, v) => k -> v.sortBy(_.block).toArray }
    val slots: Map[(String, String), Array[Fixtures.StorageAfter]] =
      w.storageOracle.groupBy(s => (s.addressHex, s.slotHex))
        .map { case (k, v) => k -> v.sortBy(_.block).toArray }
    private val accKeys = accounts.keys.toArray.sorted
    private val slotKeys = slots.keys.toArray.sorted

    private def at[T](xs: Array[T], block: T => Long, b: Long): Option[T] = {
      var lo = 0
      var hi = xs.length // first index with block > b
      while (lo < hi) {
        val m = (lo + hi) >>> 1
        if (block(xs(m)) <= b) lo = m + 1 else hi = m
      }
      if (lo == 0) None else Some(xs(lo - 1))
    }

    /** A seeded probe, accounts and storage slots 3:1, at a block between
      * the key's first change and `limit`.
      */
    def draw(limit: Long): Probe = {
      var p: Probe = null
      while (p == null) {
        if (rnd.nextInt(4) < 3) {
          val k = accKeys(rnd.nextInt(accKeys.length))
          val first = accounts(k).head.block
          if (first <= limit)
            p = Probe(k, None, first + rnd.nextLong(limit - first + 1))
        } else {
          val k = slotKeys(rnd.nextInt(slotKeys.length))
          val first = slots(k).head.block
          if (first <= limit)
            p = Probe(k._1, Some(k._2), first + rnd.nextLong(limit - first + 1))
        }
      }
      p
    }

    def verify(p: Probe, r: Option[StateItem]): Boolean = p.slot match {
      case None =>
        val e = at[Fixtures.AccountAfter](accounts(p.addr), _.block, p.block)
        r.exists(i => e.exists(e => !i.isStorage && i.block == e.block &&
          i.nonce == e.nonce && i.incarnation == e.incarnation &&
          BigInt(Bytes.hex(i.balance), 16) == BigInt(e.balance) &&
          Bytes.hex(i.codeHash) == e.codeHashHex))
      case Some(s) =>
        val e = at[Fixtures.StorageAfter](slots((p.addr, s)), _.block,
          p.block)
        r.exists(i => e.exists(e => i.isStorage && i.block == e.block &&
          i.incarnation == e.incarnation &&
          BigInt(Bytes.hex(i.value), 16) == BigInt(e.value)))
    }
  }

  // ---- layer calls ----

  /** One checked as-of lookup; its duration, or None if it failed. */
  private def lookup(dir: String, limit: Long): Option[Double] = {
    val p = oracle.draw(limit)
    val d0 = DatPageMetrics.pagesDecoded.sum()
    val s0 = DatPageMetrics.pagesSkipped.sum()
    report.attempt(p.toString) {
      tracer.timed("dat_source.lookup") {
        Cli.asOf(spark, dir, Strategy, p.addr, p.block, p.slot)
      }
    }.flatMap { case (r0, secs) =>
      pagesDecoded += DatPageMetrics.pagesDecoded.sum() - d0
      pagesSkipped += DatPageMetrics.pagesSkipped.sum() - s0
      val r = if (injectWrong) {
        injectWrong = false
        r0.map(i => i.copy(nonce = i.nonce + 1, value = i.balance))
      } else r0
      // a wrong answer counts as a failed operation, not a slow one
      if (oracle.verify(p, r)) Some(secs)
      else { report.fail(s"$p returned $r"); None }
    }
  }

  private val pagesDecoded = ArrayBuffer[Long]()
  private val pagesSkipped = ArrayBuffer[Long]()

  private def manifest(dir: String, field: String): Long =
    StateFiles.manifestField(dir, field).getOrElse(
      throw new IllegalStateException(s"no $field in $dir manifest"))

  private def itemsIn(dir: String): Long =
    manifest(dir, "accounts") + manifest(dir, "storage_slots")

  /** Decodes the whole archive and compares with the manifest totals. */
  private def checkDecode(dir: String): Unit = {
    phase("checks")
    report.attempt(s"decode $dir") {
      val counts = StateFiles.read(spark, dir, Strategy).toDF()
        .groupBy(col("isStorage")).count().collect()
        .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
      report.check(counts.getOrElse(false, 0L) == manifest(dir, "accounts") &&
        counts.getOrElse(true, 0L) == manifest(dir, "storage_slots"),
        s"decoded $dir: $counts vs manifest")
    }
  }

  /** Cli.convert split into the layers it runs: the FullHistory plan
    * (materialized to the noop sink), StateFiles.write on checkpointed
    * items, and the non-advancing-block aggregate.
    */
  private def convertSplit(out: String): Unit = {
    val latest = latestBlock()
    val (hist, items) = historyItems(latest)
    tracer.span("full_history.exec") { noop(hist) }
    val cp = items.localCheckpoint()
    rmrf(out)
    tracer.span("state_files.write") {
      StateFiles.write(cp, out, Strategy, 0L, latest)
    }
    tracer.span("full_history.non_advancing") {
      FullHistory.nonAdvancingCountRaw(table("account_changeset"),
        table("storage_changeset"))
    }
    org.apache.spark.sql.graftshim.Bridge.unpersistLocalCheckpoint(cp.toDF())
    report.put("full_history.output_rows", itemsIn(out).toDouble, "count")
  }

  /** Single-threaded codec on the archive's items: bytes per item for
    * strategies 0, 1 and 3, and strategy-0 writer and reader MB/s.
    */
  private def codecBench(dir: String): Unit = {
    val items = StateFiles.read(spark, dir, Strategy).collect()
    def encode(s: Int): Array[Byte] = {
      val w = new StateWriter(s, 12)
      items.foreach(w.write)
      w.toArray
    }
    val perItem = Seq(0, 1, 3).map { s =>
      val b = encode(s).length.toDouble / items.length
      report.put(s"codec.bytes_per_item_s$s", b, "B")
      s -> b
    }.toMap
    val data = encode(Strategy)
    val mb = data.length / 1e6
    val wr = (1 to 5).map(_ => seconds { encode(Strategy) })
    var n = 0L
    val rd = (1 to 5).map { _ =>
      n = 0L
      seconds { new StateReader(Strategy, data).foreach(_ => n += 1) }
    }
    report.check(n == items.length, s"codec round trip $n of ${items.length}")
    report.put("codec.writer_mb_s", mb / Stats.median(wr), "MB/s")
    report.put("codec.reader_mb_s", mb / Stats.median(rd), "MB/s")
    def saved(s: Int): Double = 100 * (1 - perItem(s) / perItem(0))
    report.notes += f"codec: strategy 0 -> 1 saves ${saved(1)}%.1f %%" +
      f" and 0 -> 3 saves ${saved(3)}%.1f %% of bytes per item;" +
      " the reference reports nonce delta ~1.5 % and balance delta ~8 % " +
      "(direction only: synthetic values are not mainnet's)"
  }

  private def archiveStats(dir: String): Unit = {
    val idx = Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.toString.endsWith(".idx")).map(Files.size).sum
    report.put("state_files.dat_bytes", manifest(dir, "bytes").toDouble, "B")
    report.put("state_files.idx_bytes", idx.toDouble, "B")
    report.put("state_files.files", manifest(dir, "files").toDouble, "count")
    report.put("state_files.bytes_per_item",
      manifest(dir, "bytes").toDouble / itemsIn(dir), "B")
  }

  // ---- convert ----

  private var convertCount = 0

  /** One Cli.convert into a fresh directory; returns (seconds, items). */
  private def convertOnce(): Option[(Double, Long)] = {
    convertCount += 1
    val out = s"$work/convert-out/$convertCount"
    rmrf(s"$work/convert-out/${convertCount - 1}")
    report.attempt(s"convert $convertCount") {
      val (_, secs) = tracer.timed("cli.convert") {
        Cli.convert(spark, tablesDir, out, strategy = Strategy)
      }
      (secs, itemsIn(out))
    }
  }

  private def lastConvert: String = s"$work/convert-out/$convertCount"

  private def convertWorkload(): Unit = {
    ensureWorld()
    report.putMedian("setup_s",
      (1 to SetupReps).map(_ => seconds { newSession(); loadWorld() }), "s")
    oracle = new Oracle(loadWorld())
    var items = -1L
    def op(): Option[Double] = convertOnce().map { case (secs, n) =>
      if (items < 0) items = n
      report.check(n == items, s"convert wrote $n items, first wrote $items")
      secs
    }
    op().foreach(report.put("cli.first_convert_s", _, "s"))
    warm(4, conf.seconds / 4)(op())
    val m0 = tracer.mark
    val st0 = cpuStat()
    val (plain, traced) = window(op())
    putSteal(st0)
    val all = plain ++ traced
    throughput(m0, items, Seq("cli.convert" -> 1))
    opTime(m0, Seq("cli.convert"))
    overhead(plain, traced)
    report.notes += s"convert: ${all.size} timed converts of $items items"
    val out = lastConvert
    if (conf.inject("corrupt_page")) corruptPage(out)
    checkDecode(out)
    (1 to 12).foreach(_ => lookup(out, conf.blocks))
    if (conf.trace) {
      archiveStats(out)
      (1 to 2).foreach(_ => convertSplit(s"$work/split-out"))
      codecBench(out)
      serveControl()
      textControl()
    }
  }

  /** Overwrites 64 bytes in the middle of a page of the largest part. */
  private def corruptPage(dir: String): Unit = {
    val part = Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.toString.endsWith(".dat")).maxBy(Files.size(_))
    val raf = new java.io.RandomAccessFile(part.toFile, "rw")
    try {
      val pages = (raf.length() - 256) / 4096
      raf.seek(256 + (pages / 2) * 4096 + 1024)
      raf.write(Array.fill[Byte](64)(0x5a.toByte))
    } finally raf.close()
    report.notes += s"injected: corrupted a page of $part"
  }

  // ---- archive_serve ----

  private final case class Serve(items: Dataset[StateItem], mid: Long,
                                 latest: Long, base: String, dir: String)

  /** Checkpointed items plus a base archive of blocks <= latest / 2. */
  private def serveSetup(): Serve = {
    val latest = latestBlock()
    val (_, items) = historyItems(latest)
    val cp = items.localCheckpoint()
    val mid = latest / 2
    val base = s"$work/serve-base"
    rmrf(base)
    StateFiles.write(cp.filter(col("block") <= mid), base, Strategy, 0L, mid)
    Serve(cp, mid, latest, base, s"$work/serve-live")
  }

  private final class ServeTimes {
    val lookups = ArrayBuffer[Double]()
    val appends = ArrayBuffer[Double]()
    val compacts = ArrayBuffer[Double]()
    def ops: Int = lookups.size + appends.size + compacts.size
  }

  /** One closed-loop client cycle: appends of the upper half in
    * block-range increments, each followed by lookups up to the new
    * head, then compaction and lookups over the whole range.
    */
  private def serveCycle(s: Serve, t: ServeTimes, perStep: Int): Unit = {
    rmrf(s.dir)
    FileUtils.copyDirectory(new java.io.File(s.base), new java.io.File(s.dir))
    val step = (s.latest - s.mid + Increments - 1) / Increments
    var hi = s.mid
    while (hi < s.latest) {
      val lo = hi + 1
      hi = math.min(s.latest, hi + step)
      val (a, b) = (lo, hi)
      report.attempt(s"append $a..$b") {
        tracer.timed("state_files.append") {
          StateFiles.append(
            s.items.filter(col("block") >= a && col("block") <= b),
            s.dir, Strategy, a, b)
        }._2
      }.foreach(t.appends += _)
      (1 to perStep).foreach(_ => lookup(s.dir, b).foreach(t.lookups += _))
    }
    report.attempt("compact") {
      tracer.timed("state_files.compact") {
        StateFiles.compact(spark, s.dir, Strategy, CompactParts)
      }._2
    }.foreach(t.compacts += _)
    (1 to perStep).foreach(_ => lookup(s.dir, s.latest).foreach(t.lookups += _))
  }

  private def serveWorkload(): Unit = {
    ensureWorld()
    var s: Serve = null
    report.putMedian("setup_s", (1 to SetupReps).map(_ => seconds {
      newSession(); s = serveSetup()
    }), "s")
    phase("oracle")
    oracle = new Oracle(loadWorld())
    phase("cold cycle")
    // cold: the first cycle; then lookups until their latency levels off
    val coldT = new ServeTimes
    serveCycle(s, coldT, 2)
    report.put("dat_source.first_lookup_ms", coldT.lookups.head * 1000, "ms")
    warm(8, conf.seconds / 8) {
      val xs = (1 to 10).flatMap(_ => lookup(s.dir, s.latest))
      if (xs.isEmpty) None else Some(Stats.median(xs))
    }
    phase("window")
    val m0 = tracer.mark
    val st0 = cpuStat()
    val plain = new ServeTimes
    val traced = new ServeTimes
    def cycles(t: ServeTimes, secs: Double): Unit = {
      val t0 = System.nanoTime()
      while (t.ops == 0 || (System.nanoTime() - t0) / 1e9 < secs)
        serveCycle(s, t, LookupsPerStep)
    }
    if (!conf.trace) cycles(plain, conf.seconds)
    else {
      tracer.counting = false
      cycles(plain, conf.seconds / 2)
      tracer.counting = true
      cycles(traced, conf.seconds / 2)
      overhead(plain.lookups.toSeq, traced.lookups.toSeq)
    }
    putSteal(st0)
    val all = Seq(plain, traced)
    val lookups = all.flatMap(_.lookups).map(_ * 1000)
    // a cycle's operations over its time at the median of each kind
    throughput(m0, Increments * (LookupsPerStep + 1) + LookupsPerStep + 1,
      Seq("dat_source.lookup" -> (Increments + 1) * LookupsPerStep,
        "state_files.append" -> Increments, "state_files.compact" -> 1))
    opTime(m0, Seq("dat_source.lookup"))
    Stats.tail(lookups).foreach { case (v, pct) =>
      report.put("dat_source.lookup_p90_ms", v, "ms")
      report.notes += f"lookups: n=${lookups.size}, p$pct%.0f = $v%.2f ms"
    }
    report.putMedian("state_files.append_s", all.flatMap(_.appends), "s")
    report.putMedian("state_files.compact_s", all.flatMap(_.compacts), "s")
    checkDecode(s.dir)
    if (conf.trace) {
      archiveStats(s.dir)
      convertControl()
      textControl()
    }
  }

  /** A short serve pass for traced runs of other workloads. */
  private def serveControl(): Unit = {
    val t = new ServeTimes
    serveCycle(serveSetup(), t, 3)
    report.put("dat_source.first_lookup_ms", t.lookups.head * 1000, "ms")
    report.put("state_files.append_s", Stats.median(t.appends.toSeq), "s")
    report.put("state_files.compact_s", Stats.median(t.compacts.toSeq), "s")
    Stats.tail(t.lookups.toSeq.map(_ * 1000)).orElse(
      Some((t.lookups.max * 1000, 100.0))).foreach { case (v, _) =>
      report.put("dat_source.lookup_p90_ms", v, "ms") }
  }

  /** One convert, its layer split and the codec bench, for traced runs
    * of other workloads.
    */
  private def convertControl(): Unit = {
    convertOnce().foreach { case (secs, _) =>
      report.put("cli.first_convert_s", secs, "s") }
    archiveStats(lastConvert)
    convertSplit(s"$work/split-out")
    codecBench(lastConvert)
  }

  // ---- llm_text ----

  private lazy val registry = SparkEntry.registry

  private def textPass(entry: String): Option[Double] =
    report.attempt(entry) {
      tracer.timed(s"text.$entry") {
        noop(registry(entry).fn(spark, conf.corpus))
      }._2
    }

  /** All five entries once; the round's duration. */
  private def textRound(): Option[Double] = {
    val xs = TextEntries.flatMap(textPass)
    if (xs.size == TextEntries.size) Some(xs.sum) else None
  }

  private def docs(): Long =
    spark.read.parquet(s"${conf.corpus}/documents.parquet").count()

  private def textWorkload(): Unit = {
    var n = 0L
    report.putMedian("setup_s",
      (1 to TextSetupReps).map(_ => seconds { newSession(); n = docs() }),
      "s")
    // first use of each entry, writing its full result for the oracle
    // compare
    report.put("text.first_round_s", seconds { dumpText() }, "s")
    warm(3, conf.seconds / 4)(textRound())
    val m0 = tracer.mark
    val st0 = cpuStat()
    val (plain, traced) = window(textRound())
    putSteal(st0)
    // a round at the median pass of each entry
    throughput(m0, n, TextEntries.map(e => s"text.$e" -> 1))
    opTime(m0, TextEntries.map(e => s"text.$e"))
    overhead(plain, traced)
    if (conf.trace) {
      textCountOnly()
      ensureWorld()
      oracle = new Oracle(loadWorld())
      convertControl()
      (1 to 24).foreach(_ => lookup(lastConvert, conf.blocks))
      serveControl()
    }
  }

  /** Each entry's full result as parquet, with its DuckDB oracle SQL,
    * for the compare the caller runs.
    */
  private def dumpText(): Unit = {
    val out = s"$work/text-out"
    rmrf(out)
    val sql = TextEntries.flatMap { e =>
      report.attempt(s"$e dump") {
        val t = seconds { registry(e).fn(spark, conf.corpus).coalesce(1).write
          .parquet(s"$out/$e") }
        report.notes += f"first use of $e: $t%.2f s"
        val qs = registry(e)
        qs.oracle.orElse(qs.oracleLate.map(_(conf.corpus))).map(e -> _)
      }.flatten
    }
    Files.writeString(Paths.get(out, "oracle_sql.json"), sql.map {
      case (k, v) => Report.quote(k) + ":" + Report.quote(v)
    }.mkString("{", ",", "}"))
  }

  /** l13 timed with count(), which lets column pruning skip the kernel;
    * best of three, so a stall on the host cannot hide the gap.
    */
  private def textCountOnly(): Unit = {
    val e = TextEntries.head
    val xs = (1 to 3).map(_ => seconds {
      registry(e).fn(spark, conf.corpus).count() })
    report.put("text.l13_count_only_s", xs.min, "s")
  }

  /** One round for traced runs of other workloads. */
  private def textControl(): Unit = {
    textRound().foreach(r => report.put("text.first_round_s", r, "s"))
    textCountOnly()
  }

  private def prime(): Unit = {
    newSession()
    ensureWorld()
    oracle = new Oracle(loadWorld())
    convertControl()
    (1 to 3).foreach(_ => lookup(lastConvert, conf.blocks))
    serveControl()
    textControl()
    dumpText()
  }

  // ---- per-layer figures from the spans ----

  private def layerMetrics(): Unit = {
    def med(name: String, f: Span => Double): Option[Double] = {
      val xs = tracer.named(name).filter(_.counted).map(f)
      if (xs.isEmpty) None else Some(Stats.median(xs))
    }
    def secs(name: String): Double =
      Stats.median(tracer.named(name).map(_.seconds))
    def cpu(s: Span): Double = s.counts.cpuNs / 1e9

    val fh = "full_history.exec"
    report.put("full_history.exec_s", secs(fh), "s")
    med(fh, _.counts.jobs.toDouble).foreach(report.put("full_history.jobs", _, "count"))
    med(fh, _.counts.shuffleBytes.toDouble).foreach(
      report.put("full_history.shuffle_write_bytes", _, "B"))
    med(fh, _.counts.spillBytes.toDouble).foreach(
      report.put("full_history.spill_bytes", _, "B"))
    med(fh, cpu).foreach(report.put("full_history.cpu_s", _, "s"))
    med(fh, s => cpu(s) / s.seconds).foreach(
      report.put("full_history.parallelism", _, "cores"))
    report.put("full_history.non_advancing_s",
      secs("full_history.non_advancing"), "s")
    report.put("state_files.write_s", secs("state_files.write"), "s")
    med("state_files.write", s => cpu(s) / s.seconds).foreach(
      report.put("state_files.write_parallelism", _, "cores"))
    med("state_files.compact", _.counts.shuffleBytes.toDouble).foreach(
      report.put("state_files.compact_shuffle_bytes", _, "B"))
    val conv = secs("cli.convert")
    report.put("cli.convert_s", conv, "s")
    report.put("cli.convert_residual_s", conv - secs(fh) -
      secs("state_files.write") - secs("full_history.non_advancing"), "s")

    val lk = "dat_source.lookup"
    med(lk, _.planNs / 1e6).foreach(report.put("dat_source.plan_ms", _, "ms"))
    med(lk, _.execNs / 1e6).foreach(report.put("dat_source.exec_ms", _, "ms"))
    med(lk, _.counts.tasks.toDouble).foreach(
      report.put("dat_source.tasks_per_lookup", _, "count"))
    med(lk, _.counts.jobs.toDouble).foreach(
      report.put("dat_source.jobs_per_lookup", _, "count"))
    report.put("dat_source.pages_decoded_per_lookup",
      pagesDecoded.sum.toDouble / pagesDecoded.size, "count")
    report.put("dat_source.pages_skipped_per_lookup",
      pagesSkipped.sum.toDouble / pagesSkipped.size, "count")

    for (e <- TextEntries) {
      val short = e.takeWhile(_ != '_')
      report.put(s"text.${short}_s", secs(s"text.$e"), "s")
      med(s"text.$e", _.counts.tasks.toDouble).foreach(
        report.put(s"text.${short}_tasks", _, "count"))
      med(s"text.$e", s => cpu(s) / s.seconds).foreach(
        report.put(s"text.${short}_parallelism", _, "cores"))
    }
  }

  // ---- the run ----

  def run(): Unit = {
    phase("start")
    // outputs of earlier runs; the seed-keyed worlds in target/ are kept
    Seq("convert-out", "split-out", "serve-base", "serve-live", "text-out")
      .foreach(d => rmrf(s"$work/$d"))
    conf.workload match {
      case "convert" => convertWorkload()
      case "archive_serve" => serveWorkload()
      case "llm_text" => textWorkload()
      case "prime" => prime()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    phase("done")
    if (conf.trace) {
      layerMetrics()
      Files.writeString(Paths.get(work, "trace.json"), tracer.toJson)
    }
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
    report.put("jvm.gc_s", gcMs / 1e3, "s")
    report.put("jvm.heap_peak_mb", ManagementFactory.getMemoryPoolMXBeans
      .asScala.filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0, "MB")
    val hwm = scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }
    hwm.foreach(report.put("peak_rss_mb", _, "MB"))
    Files.writeString(Paths.get(conf.out), report.toJson)
  }
}
