package graft.perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Benchmark harness: drives the program's public entry points from
  * outside and writes one JSON report.
  *
  * {{{
  *   graft.perfbench.Main --workload convert|archive_serve|llm_text
  *     --seed N --seconds S --trace 0|1 --out report.json
  *     --corpus <dir with documents.parquet>
  *     [--inject wrong_answer,corrupt_page] [--addresses A --blocks B]
  * }}}
  *
  * `--workload prime` runs every layer once, briefly, so that a JVM
  * started with `-XX:ArchiveClassesAtExit` archives the classes all
  * workloads load.
  *
  * The working directory holds everything the run writes: the
  * seed-keyed fixture worlds (`target/fixture-cache`), text goldens,
  * converted archives and Spark scratch space.
  */
object Main {

  // World size: addresses x blocks of the seeded Fixtures chain.
  val Addresses = 1000
  val Blocks = 1500
  // set-ups per run (fresh session each); the median is setup_s. The
  // text set-up is short, so it is repeated more often.
  val SetupReps = 3
  val TextSetupReps = 4
  val Strategy = 0
  val TextEntries = Seq("l13_subword_fingerprint", "l42_quality_classifier",
    "l53_pii_redact", "l09_quality_langid", "l23_repetition")
  // archive_serve: appends per cycle, lookups after each step, parts
  // after compaction
  val Increments = 4
  val LookupsPerStep = 6
  val CompactParts = 4

  final case class Conf(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, out: String, corpus: String,
                        inject: Set[String], addresses: Int, blocks: Int)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val conf = Conf(need("--workload"), need("--seed").toLong,
      need("--seconds").toDouble, need("--trace") == "1", need("--out"),
      need("--corpus"),
      kv.get("--inject").toSeq.flatMap(_.split(",")).filter(_.nonEmpty).toSet,
      kv.get("--addresses").fold(Addresses)(_.toInt),
      kv.get("--blocks").fold(Blocks)(_.toInt))
    val bench = new Bench(conf)
    try bench.run()
    finally bench.close()
  }
}

/** Outcome of a run: operations attempted and failed, named metrics,
  * within-run spreads and notes for the human-readable summary.
  */
final class Report {
  var attempted = 0L
  var failed = 0L
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val spreads = mutable.LinkedHashMap[String, String]()
  val notes = ArrayBuffer[String]()

  def check(ok: Boolean, what: => String): Boolean = {
    attempted += 1
    if (!ok) fail(what)
    ok
  }

  /** Marks an operation already counted as attempted as failed. */
  def fail(what: String): Unit = { failed += 1; notes += s"FAILED: $what" }

  /** Runs one operation; an exception counts it as failed. */
  def attempt[T](what: String)(body: => T): Option[T] =
    try { val r = body; attempted += 1; Some(r) }
    catch {
      case e: Exception =>
        attempted += 1
        fail(s"$what: ${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").take(300))
        None
    }

  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** Median of `xs` as the metric, with its quartiles as the spread. */
  def putMedian(name: String, xs: Seq[Double], unit: String): Unit = {
    put(name, Stats.median(xs), unit)
    spreads(name) = Stats.describe(xs)
  }

  import Report.{quote => q}

  def toJson: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s"${q(k)}:{${q("value")}:$num,${q("unit")}:${q(u)}}"
    }.mkString("{", ",", "}")
    val sp = spreads.map { case (k, v) => s"${q(k)}:${q(v)}" }
      .mkString("{", ",", "}")
    s"""{"correct":${failed == 0},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":$ms,"spreads":$sp,""" +
      s""""notes":${notes.map(q).mkString("[", ",", "]")}}"""
  }
}

object Report {
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val h = (s.size - 1) * p
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  /** The highest percentile, at most p90, with ten samples beyond it. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < 11) None
    else {
      val s = xs.sorted
      val i = math.min(s.size - 11, math.ceil(0.9 * s.size).toInt - 1)
      Some((s(i), 100.0 * (i + 1) / s.size))
    }

  def describe(xs: Seq[Double]): String =
    if (xs.isEmpty) "n=0"
    else f"n=${xs.size} q1=${quantile(xs, 0.25)}%.5g " +
      f"median=${median(xs)}%.5g q3=${quantile(xs, 0.75)}%.5g"
}
