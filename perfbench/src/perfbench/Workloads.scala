package perfbench

import graft.SparkEntry
import graft.intel.IntelDb
import graft.pipeline.ScanJob
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import java.nio.file.{Files, Path}

/** Outcome of one pass: operations attempted, the ones whose output check
  * failed (or that threw), and, per operation, its name and wall seconds.
  */
final case class PassOutcome(attempted: Int, failures: Seq[String],
    ops: Seq[(String, Double)])

/** Runs one call into the program under a benchmark call-site name. */
trait Calls {
  def apply[T](site: String)(body: => T): T
}

/** One benchmark workload. `setup` is the user-visible set-up the
  * benchmark times (feed load and `IntelDb.build`; the session start is
  * timed around it); `prepare` makes the inputs and expectations outside
  * any timed region; `pass` runs one complete pass and checks its output
  * after the timed region ends.
  */
trait Workload {
  def name: String
  def setup(): Unit
  def prepare(spark: SparkSession): Unit
  /** One pass; `calls` wraps exactly the work a user waits for. */
  def pass(spark: SparkSession, calls: Calls): PassOutcome
}

final class Env(val root: Path, val buildDir: Path, val digest: String,
    val seed: Long, val tiny: Boolean, val corrupt: Boolean) {
  val nproc: Int = Runtime.getRuntime.availableProcessors()
  def scratch(name: String): Path = buildDir.resolve("out").resolve(name)
}

/** Shared by the two scan workloads: a generated transcript table, its
  * feeds, and the oracle's expectations.
  */
abstract class ScanWorkload(env: Env) extends Workload {
  def turns: Long
  def feeds: Seq[(String, Seq[graft.model.IntelEntry])]
  var dbs: Seq[IntelDb] = Nil
  var buildSeconds: Seq[Double] = Vector.empty
  var input: Inputs.ScanInput = _

  def setup(): Unit = {
    val (d, s) = Util.timed(Inputs.buildDbs(feeds))
    dbs = d
    buildSeconds :+= s
  }

  def prepare(spark: SparkSession): Unit = {
    val in = Inputs.prepare(spark, env.buildDir.resolve("inputs"), name,
      env.seed, turns, env.nproc, env.digest)
    input =
      if (!env.corrupt) in
      else in.copy(expected = in.expected.copy(
        gold = in.expected.gold.map { case (k, v) => k -> (v + 1) }))
  }

  def turnsDf(spark: SparkSession) = spark.read.parquet(input.dir)

  protected def checkGold(actual: Map[(String, String, String), Long])
      : Seq[String] =
    if (actual == input.expected.gold) Nil
    else Seq(s"gold counts differ from the oracle: got ${actual.size} " +
      s"keys, ${actual.values.sum} matches; expected " +
      s"${input.expected.gold.size} keys, ${input.expected.gold.values.sum}")

  /** Text of the first turns of the input, up to `maxBytes` of UTF-8. */
  def sampleTexts(maxBytes: Long): Array[Array[Byte]] = {
    val out = Array.newBuilder[Array[Byte]]
    var bytes = 0L
    var j = 0L
    while (j < turns && bytes < maxBytes) {
      val b = textOf(j).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out += b
      bytes += b.length
      j += 1
    }
    out.result()
  }
  protected def textOf(j: Long): String
}

/** The production job as users run it: `ScanJob.run` end to end. */
final class ScanFixture(env: Env) extends ScanWorkload(env) {
  val name = "scan_fixture"
  val turns: Long = if (env.tiny) 1000L else 2000L
  def feeds = Inputs.fixtureFeeds
  val outDir: Path = env.scratch(name)
  protected def textOf(j: Long): String =
    Inputs.fixtureTurn(env.seed, j, turns).text

  def pass(spark: SparkSession, calls: Calls): PassOutcome = {
    val (stats, sec) = Util.timed(calls("ScanJob.run") {
      ScanJob.run(spark, turnsDf(spark), dbs, outDir.toString)
    })
    PassOutcome(1, check(spark, stats), Seq("ScanJob.run" -> sec))
  }

  private def check(spark: SparkSession, stats: Map[String, Long])
      : Seq[String] = {
    import spark.implicits._
    val exp = input.expected
    val gold = spark.read.parquet(outDir.resolve("gold_counts").toString)
      .as[(String, String, String, Long)].collect()
      .map { case (db, t, role, n) => (db, t, role) -> n }.toMap
    val (cleanTurns, cleanSum) = spark.read
      .parquet(outDir.resolve("routed").toString)
      .where(col("sink") === "clean")
      .select("conv_id", "turn_idx", "text").as[(String, Int, String)]
      .mapPartitions { it =>
        var n = 0L; var s = 0L
        it.foreach { case (c, i, t) => n += 1; s += Inputs.turnHash(c, i, t) }
        Iterator.single((n, s))
      }.collect().foldLeft((0L, 0L)) { case (a, b) => (a._1 + b._1, a._2 + b._2) }
    checkGold(gold) ++
      (if (stats == exp.stats) Nil
       else Seq(s"stats differ from the oracle: got $stats, expected ${exp.stats}")) ++
      (if (cleanTurns == exp.cleanTurns && cleanSum == exp.cleanChecksum) Nil
       else Seq(s"clean sink differs: $cleanTurns turns (expected " +
         s"${exp.cleanTurns}) or text checksum mismatch"))
  }
}

/** The A10 per-sink counts with no routed write, over long tool-output
  * turns probed against a ~100 k-entry feed.
  */
final class GoldBigfeed(env: Env) extends ScanWorkload(env) {
  val name = "gold_bigfeed"
  val turns: Long = if (env.tiny) 1000L else 20000L
  def feeds = Inputs.bigFeeds
  protected def textOf(j: Long): String = Inputs.bigfeedTurn(env.seed, j).text

  def pass(spark: SparkSession, calls: Calls): PassOutcome = {
    val (rows, sec) = Util.timed(calls("ScanJob.goldCounts") {
      ScanJob.goldCounts(ScanJob.matched(turnsDf(spark), dbs, spark)).collect()
    })
    val gold = rows.map(r =>
      (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
    PassOutcome(1, checkGold(gold), Seq("ScanJob.goldCounts" -> sec))
  }
}

/** A fixed set of `SparkEntry.queries`, each run to completion, in an order
  * the seed permutes; each output is checked against the row count and
  * content digest captured at the commit that defined the benchmark.
  */
final class Queries(env: Env) extends Workload {
  val name = "queries"
  val dataDir: String = env.root.resolve("perfbench/data/sf0.01").toString
  val expectedFile: Path = env.root.resolve("perfbench/expected/queries.tsv")
  var expected: Map[String, Digest.Result] = Map.empty
  var order: Seq[String] = Nil

  def setup(): Unit = ()

  def prepare(spark: SparkSession): Unit = {
    val names = if (env.tiny) Queries.names.take(2) else Queries.names
    order = new scala.util.Random(env.seed).shuffle(names)
    expected = Queries.readExpected(expectedFile)
    if (env.corrupt)
      expected = expected.map { case (k, r) => k -> r.copy(rows = r.rows + 1) }
  }

  def pass(spark: SparkSession, calls: Calls): PassOutcome = {
    val queries = SparkEntry.queries
    val results = order.map { q =>
      val t0 = System.nanoTime()
      val r = scala.util.Try(calls(q)(Digest.run(queries(q)(spark, dataDir), q)))
      (q, Util.secondsSince(t0), r)
    }
    val failures = results.collect {
      case (q, _, scala.util.Failure(e)) => s"$q threw ${e.toString.take(200)}"
      case (q, _, scala.util.Success(r)) if !expected.get(q).contains(r) =>
        s"$q output $r differs from the captured ${expected.get(q)}"
    }
    PassOutcome(results.length, failures, results.map(r => r._1 -> r._2))
  }
}

object Queries {
  /** ROADMAP's open query leads (q55, q98, q104, q47) and the extract
    * expression through its SQL surface (q01). The whole suite takes ~80 s
    * per warm pass on a 4-core host, more than one benchmark run may take,
    * so the workload runs this fixed subset.
    */
  val names: Seq[String] = Seq("q55_conv_curate", "q98_set_join",
    "q104_url_normalize", "q47_decontaminate", "q01_extract_ipv4")

  def readExpected(p: Path): Map[String, Digest.Result] =
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).toArray(new Array[String](0)).toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(n, rows, d) = l.split('\t')
        n -> Digest.Result(rows.toLong, d.toLong)
      }.toMap
}
