package perfbench

import graft.extract.IocScanner
import graft.intel.IntelDb
import graft.model.{IntelEntry, Turn}
import graft.oracle.Oracle
import graft.pipeline.{Fixtures, ScanJob}
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path}

/** Seeded inputs of the two scan workloads, their feeds, and the oracle's
  * expected outputs. Every input is a pure function of (workload, seed,
  * size); the program only ever sees the generated parquet table.
  *
  * Generated tables and expectations are cached under the build directory,
  * keyed by workload, seed, size, input layout and the digest of every
  * source file (generator, fixture pools and the program the oracle runs),
  * so an edit to any of them can never serve a stale table or a stale
  * expectation.
  */
object Inputs {

  /** What a scan workload scans, and what the oracle says it must produce. */
  final case class ScanInput(dir: String, props: Props, expected: Expected)

  final case class Props(turns: Long, bytes: Long, candidates: Long,
      distinctCandidates: Long, hitRate: Double, feedSize: Int)

  /** @param gold  A10 counts keyed by (database_id, indicator_type, role)
    * @param stats the A1-A6 vector as `ScanJob.run` reports it
    * @param cleanTurns turns without any match (the clean sink)
    * @param cleanChecksum [[turnHash]] summed over the clean turns
    */
  final case class Expected(gold: Map[(String, String, String), Long],
      stats: Map[String, Long], cleanTurns: Long, cleanChecksum: Long)

  // ------------------------------------------------------------ feeds

  val fixtureFeeds: Seq[(String, Seq[IntelEntry])] = Seq(
    "threats" -> Fixtures.intelThreats,
    "allowlist" -> Fixtures.intelAllowlist)

  /** Entries per class of the big feed: IP/CIDR, literal, complex glob. */
  val BigFeedPerClass = 33334

  /** ~100 k entries, one third each IP/CIDR, literal and multi-wildcard glob
    * (the BenchDb "combined"/"complex" shapes), plus the fixture allowlist.
    */
  def bigFeeds: Seq[(String, Seq[IntelEntry])] = Seq(
    "bigfeed" -> (0 until BigFeedPerClass).flatMap { k =>
      Seq(
        IntelEntry(s"10.${k >> 8}.${k & 0xff}.0/24", "high", "c2", "bench", 80),
        IntelEntry(literalHit(k), "high", "phishing", "bench", 70),
        IntelEntry(s"*seg${k}a*seg${k}b*", "medium", "malware", "bench", 60))
    },
    "allowlist" -> Fixtures.intelAllowlist)

  def feedsOf(workload: String): Seq[(String, Seq[IntelEntry])] =
    if (workload == "gold_bigfeed") bigFeeds else fixtureFeeds

  def buildDbs(feeds: Seq[(String, Seq[IntelEntry])]): Seq[IntelDb] =
    feeds.map { case (id, rows) => IntelDb.build(id, rows) }

  private def literalHit(k: Int): String = s"host$k.example${k % 97}.com"

  // ----------------------------------------------------- turn generators

  /** scan_fixture turn j of n: the FIXTURES.md transcript shape (roles,
    * tools, the hot conversation, ~39% of token slots planted from the
    * fixture pools), with the text stream shifted by the seed.
    */
  def fixtureTurn(seed: Long, j: Long, n: Long): Turn =
    Fixtures.turn(j, n).copy(text = Fixtures.text(textBase(seed) + j))

  private def textBase(seed: Long): Long = Fixtures.mix(seed) >>> 24

  private val levels = Array("INFO", "INFO", "INFO", "WARN", "DEBUG", "ERROR")
  private val verbs = Array("GET", "POST", "PUT", "DELETE")
  private val routes = Array("/api/v1/items", "/api/v2/orders", "/healthz",
    "/metrics", "/api/v1/users/profile", "/static/app.js", "/v1/batch/submit")
  private val notes = Array("request served", "cache refreshed",
    "retry scheduled after backoff", "connection pool resized",
    "upstream responded slowly", "payload validated", "token rotated")
  private val roles = Array("tool", "tool", "tool", "assistant")

  /** Share of planted values drawn from entries of the big feed. */
  val BigFeedHitPercent = 10

  /** gold_bigfeed turn j: agent tool output of 10-40 log lines (~1-4 KB).
    * Each line plants one candidate, one third each an IPv4 address, a
    * literal-shaped domain and a glob-shaped domain; 10% of them are drawn
    * from the feed, the rest from a space of ~10^9 values, so the distinct
    * candidates of a run far outnumber the lookup memo's 16 k slots.
    * One line in five also carries a 32-hex trace id (an md5 candidate that
    * never matches).
    */
  def bigfeedTurn(seed: Long, j: Long): Turn = {
    val base = Fixtures.mix(seed * 0x5851f42d4c957f2dL + j)
    val lines = 10 + ((base >>> 40) % 31).toInt
    val sb = new java.lang.StringBuilder(lines * 110)
    var l = 0
    while (l < lines) {
      val r = Fixtures.mix(base + l)
      val r2 = Fixtures.mix(r)
      val ts = 1700000000L + j * 60 + l
      sb.append("t=").append(ts)
        .append(" level=").append(levels(((r >>> 3) % levels.length).toInt))
        .append(" svc=worker-").append((r >>> 9) & 63)
        .append(' ').append(verbs(((r >>> 15) % verbs.length).toInt))
        .append(' ').append(routes(((r >>> 19) % routes.length).toInt))
        .append(" status=").append(200 + ((r >>> 23) % 4) * 100)
        .append(" ms=").append((r >>> 27) & 1023)
      val k = ((r2 >>> 11) % BigFeedPerClass).toInt
      val hit = ((r2 >>> 3) % 100) < BigFeedHitPercent
      val wide = (r2 >>> 34) & 0x3fffffffL
      ((r2 >>> 1) % 3).toInt match {
        case 0 =>
          sb.append(" peer=")
          if (hit) sb.append("10.").append(k >> 8).append('.')
            .append(k & 0xff).append('.').append(1 + (wide % 254))
          else sb.append("11.").append((wide >>> 16) & 0xff).append('.')
            .append((wide >>> 8) & 0xff).append('.').append(wide & 0xff)
        case 1 =>
          sb.append(" host=")
          if (hit) sb.append(literalHit(k))
          else sb.append("miss").append(wide).append(".example")
            .append(wide % 97).append(".com")
        case _ =>
          sb.append(" upstream=seg").append(k).append("a.n").append(wide)
            .append(if (hit) ".seg" else ".seq").append(k).append("b.net")
      }
      if ((r >>> 37) % 5 == 0)
        sb.append(" trace=").append(f"${Fixtures.mix(r2)}%016x${r2}%016x")
      sb.append(" msg=\"").append(notes(((r >>> 45) % notes.length).toInt))
        .append("\"\n")
      l += 1
    }
    Turn(f"agent-${j / 8}%07d", (j % 8).toInt,
      roles(((base >>> 5) % roles.length).toInt), sb.toString, "bash",
      new java.sql.Timestamp(1700000000000L + j * 1000L))
  }

  /** Order-insensitive per-turn checksum term of the clean-sink check. */
  def turnHash(convId: String, turnIdx: Int, text: String): Long =
    Fixtures.mix(convId.hashCode.toLong * 31 + turnIdx) ^
      Fixtures.mix(scala.util.hashing.MurmurHash3.stringHash(text).toLong)

  // --------------------------------------------------------------- cache

  /** Generate (or reuse) the parquet table of `n` turns and its oracle
    * expectations. Generation and the oracle run as Spark tasks over
    * chunks of the index range; the oracle itself stays the single-threaded
    * reference within a chunk.
    */
  def prepare(spark: SparkSession, cacheRoot: Path, workload: String,
      seed: Long, n: Long, files: Int, digest: String): ScanInput = {
    val key = s"$workload-s$seed-n$n-f$files-${digest.take(16)}"
    val dir = cacheRoot.resolve(key)
    val done = dir.resolve("_READY")
    if (!Files.exists(done)) {
      val tmp = cacheRoot.resolve(s"$key.tmp-${ProcessHandle.current().pid()}")
      Util.deleteTree(tmp)
      generate(spark, tmp.resolve("turns").toString, workload, seed, n, files)
      Files.writeString(tmp.resolve("expected.txt"),
        Util.toLines(computeExpected(spark, workload, seed, n)))
      Files.writeString(tmp.resolve("_READY"), key)
      Util.deleteTree(dir)
      Files.move(tmp, dir)
    }
    val kv = Util.fromLines(Files.readString(dir.resolve("expected.txt")))
    ScanInput(dir.resolve("turns").toString, propsOf(kv, feedsOf(workload)),
      expectedOf(kv))
  }

  private def generate(spark: SparkSession, out: String, workload: String,
      seed: Long, n: Long, files: Int): Unit = {
    import spark.implicits._
    val big = workload == "gold_bigfeed"
    spark.range(0L, n, 1L, files)
      .map(j => if (big) bigfeedTurn(seed, j) else fixtureTurn(seed, j, n))
      .write.parquet(out)
  }

  /** Per-chunk oracle summary, summed over chunks. Keys are flat strings so
    * the summary is a plain Map that merges by addition.
    */
  private def computeExpected(spark: SparkSession, workload: String,
      seed: Long, n: Long): Map[String, Long] = {
    val big = workload == "gold_bigfeed"
    val chunk = 2000L
    val chunks = (n + chunk - 1) / chunk
    val perChunk = spark.sparkContext
      .parallelize(0L until chunks,
        math.min(chunks, spark.sparkContext.defaultParallelism.toLong).toInt)
      .mapPartitions { ids =>
        val dbs = buildDbs(feedsOf(workload))
        val scanner = new IocScanner(ScanJob.capabilityConfig(dbs))
        ids.map { c =>
          val turns = (c * chunk until math.min(n, (c + 1) * chunk)).map(j =>
            if (big) bigfeedTurn(seed, j) else fixtureTurn(seed, j, n))
          chunkSummary(turns, dbs, scanner, withStats = !big)
        }
      }
      .collect()
    val merged = perChunk.flatMap(_._1).groupMapReduce(_._1)(_._2)(_ + _)
    val hashes = perChunk.flatMap(_._2)
    java.util.Arrays.sort(hashes)
    val distinct = hashes.indices.count(i => i == 0 || hashes(i) != hashes(i - 1))
    merged + ("prop.distinct_candidates" -> distinct.toLong) +
      ("prop.turns" -> n)
  }

  /** Oracle summary of one chunk of turns. The A1-A6 vector is only
    * checked on scan_fixture (the other workload checks gold counts), so
    * only there is `Oracle.stats` run.
    */
  private def chunkSummary(turns: Seq[Turn], dbs: Seq[IntelDb],
      scanner: IocScanner, withStats: Boolean): (Map[String, Long], Array[Long]) = {
    val cands = Oracle.candidates(turns, scanner)
    val matched = Oracle.matched(turns, dbs, scanner)
    val stats =
      if (withStats) Oracle.stats(turns, dbs, scanner)
      else Map("total_bytes" -> turns.map(_.text.getBytes("UTF-8").length.toLong).sum,
        "candidates_tested" -> cands.size.toLong)
    val gold = matched
      .groupBy(m => s"gold.${m.database_id}|${m.indicator_type}|${m.role}")
      .map { case (k, v) => k -> v.size.toLong }
    val hitTurns = matched.map(m => (m.conv_id, m.turn_idx)).toSet
    val clean = turns.filterNot(t => hitTurns((t.conv_id, t.turn_idx)))
    val hitCands = matched
      .map(m => (m.conv_id, m.turn_idx, m.span_start, m.indicator_type))
      .distinct.size.toLong
    val summary = stats.map { case (k, v) => s"stat.$k" -> v } ++ gold ++
      Map(
        "clean.turns" -> clean.size.toLong,
        "clean.checksum" ->
          clean.iterator.map(t => turnHash(t.conv_id, t.turn_idx, t.text)).sum,
        "prop.hit_candidates" -> hitCands)
    val valueHashes = cands.iterator
      .map(c => Fixtures.mix(c.indicator_type.hashCode.toLong << 32 ^
        scala.util.hashing.MurmurHash3.stringHash(c.value)))
      .toArray.distinct
    (summary, valueHashes)
  }

  private def propsOf(kv: Map[String, Long],
      feeds: Seq[(String, Seq[IntelEntry])]): Props = {
    val cands = kv.getOrElse("stat.candidates_tested", 0L)
    Props(kv("prop.turns"), kv("stat.total_bytes"), cands,
      kv("prop.distinct_candidates"),
      if (cands == 0) 0.0 else kv.getOrElse("prop.hit_candidates", 0L).toDouble / cands,
      feeds.map(_._2.size).sum)
  }

  private def expectedOf(kv: Map[String, Long]): Expected = {
    val gold = kv.collect { case (k, v) if k.startsWith("gold.") =>
      val Array(db, t, role) = k.stripPrefix("gold.").split('|')
      (db, t, role) -> v
    }
    val stats = kv.collect { case (k, v) if k.startsWith("stat.") =>
      k.stripPrefix("stat.") -> v
    }
    Expected(gold, stats, kv.getOrElse("clean.turns", 0L),
      kv.getOrElse("clean.checksum", 0L))
  }
}
