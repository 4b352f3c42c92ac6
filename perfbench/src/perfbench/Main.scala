package perfbench

import graft.pipeline.ScanJob
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark's JVM side. `perfbench/run.py` builds the program and this
  * package from source and starts it as
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * }}}
  * Load is closed-loop: passes run back to back from one driver thread at
  * `local[nproc]`. The last stdout line is the result object; the line
  * before it (`PERFBENCH_DETAIL {...}`) carries the input properties, host,
  * and every sample.
  */
object Main {

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 5
  /** Measured passes per run, at least (a traced run alternates traced
    * and untraced passes, so it needs two); more while `--seconds` lasts.
    */
  def minPasses(traced: Boolean): Int = if (traced) 2 else 1

  /** End-to-end metrics, reported by the untraced run of every workload. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "pass_s" -> "s")

  /** Per-layer metrics, reported by the traced run of every workload; a
    * layer a workload does not run reads 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "extract.mb_per_s" -> "MB/s", "extract.busy_s" -> "s",
    "extract.candidates_per_turn" -> "count/turn",
    "intel.build_s" -> "s", "intel.db_bytes" -> "B",
    "intel.lookups_per_s" -> "1/s", "intel.lookups_per_turn" -> "count/turn",
    "intel.match_ratio" -> "ratio", "intel.memo_hit_ratio" -> "ratio",
    "functions.scan_turn_flat_turns_per_s" -> "turns/s",
    "functions.scan_turn_turns_per_s" -> "turns/s",
    "functions.rows_per_turn" -> "count/turn",
    "pipeline.decode_s" -> "s", "pipeline.matched_s" -> "s",
    "pipeline.routed_write_s" -> "s", "pipeline.readback_s" -> "s",
    "pipeline.driver_s" -> "s", "pipeline.jobs" -> "count",
    "pipeline.task_s" -> "s", "pipeline.gc_s" -> "s",
    "pipeline.shuffle_bytes" -> "B", "pipeline.spill_bytes" -> "B",
    "pipeline.max_task_skew" -> "ratio",
    "io.routed_files" -> "count", "io.routed_bytes" -> "B",
    "io.output_rows" -> "count", "io.routed_bytes_per_input_byte" -> "ratio",
    "scan.turns_per_s" -> "turns/s",
    "scaling.turns_per_s_low" -> "turns/s",
    "scaling.turns_per_s_high" -> "turns/s",
    "scaling.eff_n_to_4n" -> "ratio",
    "trace.pass_s" -> "s", "trace.untraced_pass_s" -> "s",
    "trace.overhead_ratio" -> "ratio", "jvm.old_gen_peak_mb" -> "MB",
    "jvm.retained_heap_mb" -> "MB") ++
    Queries.names.map(q => s"queries.${q}_s" -> "s") ++
    Seq("queries.geomean_s" -> "s")

  final case class Opts(workload: String = "", seed: Long = 0, seconds: Int = 10,
      trace: Boolean = false, tiny: Boolean = false, corrupt: Boolean = false,
      capture: Option[String] = None)

  private def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--tiny" :: t => parse(t, o.copy(tiny = true))
    case "--corrupt-expectation" :: t => parse(t, o.copy(corrupt = true))
    case "--capture-queries" :: v :: t => parse(t, o.copy(capture = Some(v)))
    case Nil => o
    case other => throw new IllegalArgumentException(s"unknown argument $other")
  }

  def session(env: Env, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", env.buildDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir",
        env.buildDir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val o = parse(args.toList)
    val root = Paths.get("").toAbsolutePath
    val env = new Env(root, root.resolve(".bench_build"),
      sys.props.getOrElse("perfbench.digest", "nodigest"), o.seed, o.tiny,
      o.corrupt)
    val w: Workload = o.workload match {
      case "scan_fixture" => new ScanFixture(env)
      case "gold_bigfeed" => new GoldBigfeed(env)
      case "queries" => new Queries(env)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    o.capture match {
      case Some(path) => captureQueries(env, w.asInstanceOf[Queries], Paths.get(path))
      case None => new Run(env, w, o).run()
    }
  }

  /** Writes the expected row count and digest of every query of the
    * workload, run twice in two orders; a query whose two digests differ
    * is reported and left out.
    */
  private def captureQueries(env: Env, q: Queries, out: Path): Unit = {
    val spark = session(env, env.nproc)
    q.prepare(spark)
    val queries = graft.SparkEntry.queries
    def runAll(order: Seq[String]) = order.map(n =>
      n -> Digest.run(queries(n)(spark, q.dataDir), n)).toMap
    val a = runAll(Queries.names)
    val b = runAll(Queries.names.reverse)
    val lines = Queries.names.flatMap { n =>
      if (a(n) != b(n)) {
        System.err.println(s"unstable digest, left out: $n ${a(n)} ${b(n)}")
        None
      } else Some(s"$n\t${a(n).rows}\t${a(n).digest}")
    }
    Files.createDirectories(out.getParent)
    Files.writeString(out, lines.mkString(
      "# query\trows\tdigest (perfbench.Digest), captured by run.py --capture-queries\n",
      "\n", "\n"))
    spark.stop()
  }
}

/** One benchmark run of one workload. */
final class Run(env: Env, w: Workload, o: Main.Opts) {
  import Main._

  private val trace = new Trace(o.trace)
  private val collector = new Collector
  private var pass = 0
  private val callSpans = mutable.Map[(Int, String), Int]()
  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getType == MemoryType.HEAP && p.getName.contains("Old"))

  private var spark: SparkSession = _

  private val calls = new Calls {
    def apply[T](site: String)(body: => T): T = {
      spark.sparkContext.setLocalProperty(Collector.SiteKey, site)
      try trace.span(s"call:$site", pass) {
        callSpans((pass, site)) = trace.current
        body
      }._1
      finally spark.sparkContext.setLocalProperty(Collector.SiteKey, null)
    }
  }

  /** @param oldGenMb old-generation peak while the pass ran
    * @param retainedMb heap still live after the pass (after a full GC)
    */
  final case class Sample(pass: Int, seconds: Double, oldGenMb: Double,
      retainedMb: Double, traced: Boolean, outcome: PassOutcome)

  private var attempted = 0
  private val failures = mutable.ArrayBuffer[String]()
  private val layer = mutable.LinkedHashMap[String, Double]()
  private val detail = mutable.LinkedHashMap[String, Any]()

  def run(): Unit = {
    // inputs first, in a session of their own, so that nothing the
    // generator or the oracle leaves behind lives on into the measured one
    spark = session(env, env.nproc)
    val prepareS = trace.span("prepare", -1)(w.prepare(spark))._2
    // set-up: session start + feed load + IntelDb.build, several times
    val setupS = (1 to Setups).map { i =>
      spark.stop()
      trace.span("setup", -1, Map("repeat" -> i)) {
        spark = session(env, env.nproc)
        w.setup()
      }._2
    }

    pass = 0
    val warm = onePass(traced = false)
    val samples = mutable.ArrayBuffer[Sample]()
    val t0 = System.nanoTime()
    while (samples.length < minPasses(o.trace) ||
      Util.secondsSince(t0) < o.seconds) {
      pass += 1
      // a traced run alternates traced and untraced passes: the difference
      // between the two is the tracing overhead
      samples += onePass(traced = o.trace && pass % 2 == 1)
    }
    val good = samples.filter(_.outcome.failures.isEmpty)
    val passS = Util.median((if (good.nonEmpty) good else samples).map(_.seconds).toSeq)

    if (o.trace) perLayer(samples.toSeq)

    detail ++= Map("workload" -> w.name, "seed" -> o.seed,
      "seconds" -> o.seconds, "trace" -> o.trace, "nproc" -> env.nproc,
      "mem_total_mb" -> physicalMemMb, "heap_max_mb" ->
        Runtime.getRuntime.maxMemory / (1 << 20),
      "setup_samples_s" -> setupS, "prepare_s" -> prepareS,
      "warm_pass_s" -> warm.seconds,
      "pass_samples_s" -> samples.map(_.seconds),
      "old_gen_peak_samples_mb" -> samples.map(_.oldGenMb),
      "retained_heap_samples_mb" -> samples.map(_.retainedMb),
      "failures" -> failures.take(20))
    w match {
      case s: ScanWorkload =>
        val p = s.input.props
        detail ++= Map("input" -> Map("turns" -> p.turns, "text_bytes" -> p.bytes,
          "candidates" -> p.candidates,
          "distinct_candidates" -> p.distinctCandidates,
          "candidate_hit_rate" -> p.hitRate, "feed_entries" -> p.feedSize,
          "parquet_bytes" -> Util.dataFiles(Paths.get(s.input.dir))
            .map(Files.size).sum),
          "turns_per_s" -> p.turns / passS)
      case q: Queries =>
        detail ++= Map("query_order" -> q.order, "per_query_s" ->
          perQueryMedians(samples.toSeq))
    }
    if (spark != null) spark.stop()
    trace.write(env.buildDir.resolve("trace")
      .resolve(s"${w.name}-s${o.seed}.jsonl"))

    val metrics =
      if (!o.trace) Map(
        "setup_s" -> Util.median(setupS),
        "pass_s" -> passS)
      else layer.toMap
    val units = (if (o.trace) PerLayer else EndToEnd).toMap
    val ok = failures.isEmpty
    println("PERFBENCH_DETAIL " + Util.json(detail.toMap))
    println(Util.json(Map(
      "correct" -> ok, "attempted" -> attempted, "failed" -> failures.length,
      "metrics" -> units.map { case (k, u) =>
        k -> Map("value" -> metrics.getOrElse(k, 0.0), "unit" -> u) })))
  }

  private def physicalMemMb: Long = ManagementFactory.getOperatingSystemMXBean
    match {
      case os: com.sun.management.OperatingSystemMXBean =>
        os.getTotalMemorySize / (1 << 20)
      case _ => -1L
    }

  /** One checked pass; `traced` attaches the collector for it. */
  private def onePass(traced: Boolean): Sample = {
    val sc = spark.sparkContext
    System.gc()
    oldGen.foreach(_.resetPeakUsage())
    if (traced) sc.addSparkListener(collector)
    val (outcome, _) = trace.span("pass", pass, Map("traced" -> traced)) {
      try w.pass(spark, calls)
      catch {
        case e: Exception =>
          PassOutcome(1, Seq(s"pass threw ${e.toString.take(300)}"), Nil)
      }
    }
    val oldMb = oldGen.map(_.getPeakUsage.getUsed / 1048576.0).getOrElse(0.0)
    System.gc()
    val retainedMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      .getUsed / 1048576.0
    if (traced) {
      PerfbenchBus.drain(sc)
      sc.removeSparkListener(collector)
      recordJobs()
    }
    attempted += outcome.attempted
    failures ++= outcome.failures.map(f => s"pass $pass: $f")
    Sample(pass, outcome.ops.map(_._2).sum, oldMb, retainedMb, traced, outcome)
  }

  /** Job and SQL-execution records of the pass just run, by pass. */
  private val jobsOf = mutable.Map[Int, Seq[Collector.Job]]()
  private val execsOf = mutable.Map[Int, Seq[Collector.Exec]]()

  /** Keeps the jobs run inside a call (not the output checks after it)
    * and the SQL executions that started them.
    */
  private def recordJobs(): Unit = {
    val (all, allExecs) = collector.drain()
    val jobs = all.filter(_.site.nonEmpty)
    val execs = allExecs.filter(e => jobs.exists(_.execId == e.id))
    jobsOf(pass) = jobs
    execsOf(pass) = execs
    jobs.foreach { j =>
      trace.add(s"job:${j.callSite}", callSpans.getOrElse((pass, j.site), -1),
        pass, j.start, j.end, Map("job_id" -> j.id, "site" -> j.site,
          "call_site" -> j.callSite, "sql_execution" -> j.execId,
          "task_ms" -> j.taskMs, "gc_ms" -> j.gcMs,
          "shuffle_bytes" -> j.shuffleBytes, "spill_bytes" -> j.spillBytes,
          "output_bytes" -> j.outBytes, "output_rows" -> j.outRows))
    }
    execs.foreach { e =>
      val parent = jobs.find(_.execId == e.id)
        .flatMap(j => callSpans.get((pass, j.site))).getOrElse(-1)
      trace.add(s"sql:${e.description}", parent, pass, e.start, e.end,
        Map("sql_execution" -> e.id))
    }
  }

  private def perQueryMedians(samples: Seq[Sample]): Map[String, Double] =
    samples.flatMap(_.outcome.ops).groupBy(_._1)
      .map { case (q, xs) => q -> Util.median(xs.map(_._2)) }

  private def perLayer(samples: Seq[Sample]): Unit = {
    val traced = samples.filter(_.traced)
    val untraced = samples.filterNot(_.traced)
    val tracedS = Util.median(traced.map(_.seconds))
    val untracedS = Util.median(untraced.map(_.seconds))
    layer ++= PerLayer.map(_._1 -> 0.0)
    layer ++= Map("trace.pass_s" -> tracedS, "trace.untraced_pass_s" -> untracedS,
      "trace.overhead_ratio" -> (tracedS / untracedS - 1.0),
      "jvm.old_gen_peak_mb" -> Util.median(samples.map(_.oldGenMb)),
      "jvm.retained_heap_mb" -> Util.median(samples.map(_.retainedMb)))

    // pipeline.*: the jobs of each traced pass, attributed by call site
    def med(f: Int => Double): Double = Util.median(traced.map(s => f(s.pass)))
    def jobs(p: Int) = jobsOf.getOrElse(p, Nil)
    def passIv(p: Int): (Long, Long) = {
      val calls = callSpans.collect { case ((`p`, _), id) => id }
      (calls.map(trace.startOf).min, calls.map(trace.endOf).max)
    }
    def busyMs(p: Int): Long = Collector.unionMs(
      jobs(p).map(j => (j.start, j.end)) ++
        execsOf.getOrElse(p, Nil).map(e => (e.start, e.end)))
    layer ++= Map(
      "pipeline.jobs" -> med(p => jobs(p).length),
      "pipeline.task_s" -> med(p => jobs(p).map(_.taskMs).sum / 1e3),
      "pipeline.gc_s" -> med(p => jobs(p).map(_.gcMs).sum / 1e3),
      "pipeline.shuffle_bytes" -> med(p => jobs(p).map(_.shuffleBytes).sum),
      "pipeline.spill_bytes" -> med(p => jobs(p).map(_.spillBytes).sum),
      "pipeline.max_task_skew" -> med(p => Collector.maxTaskSkew(jobs(p))),
      "pipeline.driver_s" -> med { p =>
        val (s, e) = passIv(p); (e - s - busyMs(p)) / 1e3 })

    w match {
      case s: ScanWorkload =>
        layer ++= scanLayers(s, traced.map(_.pass))
        layer("scan.turns_per_s") = s.input.props.turns / untracedS
      case _: Queries =>
        val per = perQueryMedians(samples)
        per.foreach { case (q, v) => layer(s"queries.${q}_s") = v }
        layer("queries.geomean_s") = Util.geomean(per.values.toSeq)
    }
  }

  private def scanLayers(s: ScanWorkload, passes: Seq[Int])
      : Map[String, Double] = {
    val m = mutable.LinkedHashMap[String, Double]()
    m("intel.build_s") = Util.median(s.buildSeconds)
    // ladder rungs below the pass: parquet decode alone, then + the fused
    // scan/lookup Generate and the metadata join (ScanJob.matched)
    def noopMedian(site: String)(df: => org.apache.spark.sql.DataFrame): Double =
      Util.median((1 to 3).map(_ => Util.timed(calls(site)(
        df.write.format("noop").mode("overwrite").save()))._2))
    pass = -2
    m("pipeline.decode_s") = noopMedian("probe.decode")(
      s.turnsDf(spark).select("conv_id", "turn_idx", "role", "text"))
    m("pipeline.matched_s") = noopMedian("probe.matched")(
      ScanJob.matched(s.turnsDf(spark), s.dbs, spark))
    m ++= Layers.probe(s.sampleTexts(16L << 20), s.feeds, trace, pass)

    s match {
      case f: ScanFixture =>
        val files = Util.dataFiles(f.outDir.resolve("routed"))
        val bytes = files.map(Files.size).sum.toDouble
        val inBytes = Util.dataFiles(Paths.get(s.input.dir)).map(Files.size).sum
        m("io.routed_files") = files.length
        m("io.routed_bytes") = bytes
        m("io.routed_bytes_per_input_byte") = bytes / inBytes
        // the first SQL execution ScanJob.run starts is its routed write;
        // everything after it (gold/stats/metrics read-back) is read-back
        def split(p: Int): Option[(Collector.Exec, Seq[Collector.Exec], Seq[Collector.Job])] = {
          val ex = execsOf.getOrElse(p, Nil).sortBy(_.start)
          ex.headOption.map(first => (first, ex.tail, jobsOf.getOrElse(p, Nil)))
        }
        val parts = passes.flatMap(split)
        if (parts.nonEmpty) {
          m("pipeline.routed_write_s") =
            Util.median(parts.map(x => (x._1.end - x._1.start) / 1e3))
          m("pipeline.readback_s") = Util.median(parts.map { case (first, rest, jobs) =>
            Collector.unionMs(rest.map(e => (e.start, e.end)) ++
              jobs.filter(_.start >= first.end).map(j => (j.start, j.end))) / 1e3
          })
          m("io.output_rows") = Util.median(parts.map { case (first, _, jobs) =>
            jobs.filter(_.execId == first.id).map(_.outRows).sum.toDouble })
        }
      case g: GoldBigfeed => m ++= scaling(g)
    }
    m.toMap
  }

  /** N -> 4N strong scaling of the gold_bigfeed pass on the same input:
    * N = nproc/4 and 4N = nproc, in interleaved sessions (A/B, then B/A).
    */
  private def scaling(g: GoldBigfeed): Map[String, Double] = {
    val hi = env.nproc
    val lo = math.max(1, hi / 4)
    val tps = mutable.Map[Int, mutable.ArrayBuffer[Double]]()
    for (round <- 0 until 2; cores <- if (round % 2 == 0) Seq(lo, hi) else Seq(hi, lo)) {
      spark.stop()
      spark = session(env, cores)
      pass = -10 - cores
      val o = g.pass(spark, calls)
      failures ++= o.failures.map(f => s"scaling at $cores cores: $f")
      attempted += o.attempted
      tps.getOrElseUpdate(cores, mutable.ArrayBuffer()) +=
        g.input.props.turns / o.ops.map(_._2).sum
    }
    val tLo = Util.median(tps(lo).toSeq)
    val tHi = Util.median(tps(hi).toSeq)
    detail("scaling") = Map("cores_low" -> lo, "cores_high" -> hi,
      "turns_per_s_low" -> tps(lo).toSeq, "turns_per_s_high" -> tps(hi).toSeq)
    Map("scaling.turns_per_s_low" -> tLo, "scaling.turns_per_s_high" -> tHi,
      "scaling.eff_n_to_4n" -> (tHi / tLo) / (hi.toDouble / lo))
  }
}
