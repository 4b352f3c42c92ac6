package graft.ops

import graft.SparkTestBase
import graft.queries.QueryDefs
import java.io.File
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Staging seam: the durable parquet path must be result-identical to the
  * default localCheckpoint path for every op that stages through
  * [[Staging]], and releasing an op's result must delete every durable
  * table the op left behind.
  */
class StagingSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestBase.spark

  private def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete(); ()
  }

  private def tempDir(prefix: String): File =
    java.nio.file.Files.createTempDirectory(prefix).toFile

  /** Run `body` in a new session (sharing the SparkContext) whose staging
    * dir is a fresh temp dir; the shared session's conf is never touched.
    * `body` must build its inputs from the session it is given — Staging
    * reads the setting from the staged frame's own session.
    */
  private def withDurable[A](body: (SparkSession, File) => A): A = {
    val dir = tempDir("graft-staging-spec")
    val s = spark.newSession()
    s.conf.set("spark.graft.staging.dir", dir.toString)
    try body(s, dir) finally rm(dir)
  }

  private def tablesIn(dir: File): Seq[String] =
    Option(dir.list()).toSeq.flatten

  private def docs(s: SparkSession): DataFrame =
    s.createDataFrame((0 until 40).map { i =>
      val tk = (0 until 6 + i % 4)
        .map(j => s"w${(i * 3 + j * (1 + i % 3)) % 25}")
      (f"d$i%02d", tk.mkString(" "))
    } ++ Seq(
      ("dupa", "alpha beta gamma delta epsilon"),
      ("dupb", "alpha beta gamma delta epsilon"),
      ("dupc", "alpha beta gamma delta zeta"))).toDF("doc_id", "text")

  test("jaccardJoin: durable staging is result-identical (and actually " +
    "wrote staged tables)") {
    val local = SetJoin.jaccardJoin(docs(spark), 500).collect().toSet
    val durable = withDurable { (s, dir) =>
      val out = SetJoin.jaccardJoin(docs(s), 500).collect().toSet
      val staged = tablesIn(dir)
      assert(staged.exists(_.contains("setjoin-tok")) &&
        staged.exists(_.contains("setjoin-ordered")),
        s"expected staged tables under $dir, found " + staged.mkString(", "))
      out
    }
    assert(durable == local && local.nonEmpty)
  }

  test("containmentJoin: durable staging is result-identical") {
    val local = SetJoin.containmentJoin(docs(spark), 700).collect().toSet
    val durable = withDurable { (s, _) =>
      SetJoin.containmentJoin(docs(s), 700).collect().toSet
    }
    assert(durable == local && local.nonEmpty)
  }

  test("curate (incl. minhash banding + CC loop): durable staging is " +
    "result-identical") {
    def run(s: SparkSession) = {
      val eval = s.createDataFrame(
        Seq(("e0", "alpha beta gamma delta epsilon zeta eta")))
        .toDF("doc_id", "text")
      Curation.curate(docs(s), eval,
        minTokens = 2, maxTokens = 50, minMeanTokenLen = 1.0,
        maxMeanTokenLen = 20.0, minAlnumRatio = 0.1, minStopwordHits = 0,
        k = 2, numHashes = 8, bands = 4, maxBandDf = 10,
        contamN = 2, minShared = 1).collect().toSet
    }
    val local = run(spark)
    val durable = withDurable((s, _) => run(s))
    assert(durable == local && local.nonEmpty)
    // every verdict class should appear so the equality is meaningful
    assert(local.exists(_.getAs[Boolean]("keep")))
    assert(local.exists(r => !r.getAs[Boolean]("keep")))
  }

  test("minhashLshPairs + nearDupClusters: durable staging is " +
    "result-identical") {
    def run(s: SparkSession) = Dedup.nearDupClusters(
      docs(s).select("doc_id"),
      Dedup.minhashLshPairs(docs(s), k = 2, numHashes = 8, bands = 4))
      .collect().toSet
    val local = run(spark)
    val durable = withDurable((s, _) => run(s))
    assert(durable == local && local.nonEmpty)
  }

  // ---- every other staged operator, table-driven: durable == default,
  // and releaseDeep(result) deletes every table the operator left behind

  private def vecs(s: SparkSession, n: Long): DataFrame =
    s.createDataFrame((0L until n).map { i =>
      (i, Array((math.cos(i * 0.37) * 2).toFloat,
        (math.sin(i * 0.53) * 2).toFloat, ((i % 7) - 3).toFloat))
    }).toDF("vec_id", "embedding")

  /** Above the collect threshold: ivfTopK/semDedup take the DF-resident
    * Lloyd path, whose centroid table is a live stage. */
  private val bigNlist = Similarity.DefaultMaxCollectCentroids + 8

  private def lineDocs(s: SparkSession): DataFrame =
    s.createDataFrame((0 until 6).map { i =>
      (s"l$i", s"header line\nbody $i\nbody ${i % 2}\nfooter line")
    }).toDF("doc_id", "text")

  private def grouped(s: SparkSession): DataFrame =
    s.createDataFrame((0 until 300).map { i =>
      val h = (i * 2654435761L) & 0xffffffffL
      (s"g${h % 3}", (h % 1009L) - 200L, 1L + h % 4L)
    }).toDF("k", "v", "w")

  private def ts(d: String) = Timestamp.valueOf(s"$d 10:00:00")

  private val eventsRoot = tempDir("graft-staging-events")

  /** A small events table in the layout `QueryDefs.goldTurns` reads. */
  private lazy val eventsDir: String = {
    spark.createDataFrame((0L until 240L).map { i =>
      (i, ts(f"2024-01-${1 + i % 28}%02d"), i % 7,
        if (i % 2 == 0) "user" else "assistant")
    }).toDF("event_id", "ts", "user_id", "event_type")
      .write.parquet(s"$eventsRoot/events.parquet")
    eventsRoot.toString
  }

  override def afterAll(): Unit = {
    rm(eventsRoot)
    super.afterAll()
  }

  private val ps = Seq(("50", 500), ("90", 900))

  private val cases: Seq[(String, SparkSession => DataFrame)] = Seq(
    "Similarity.ivfCentroids (DF-resident Lloyd)" -> (s =>
      Similarity.ivfCentroids(vecs(s, 40), nlist = 4, lloydRounds = 2,
        maxCollectCentroids = 0)),
    "Similarity.ivfTopK" -> (s =>
      Similarity.ivfTopK(vecs(s, 2L * bigNlist), k = 1, nlist = bigNlist,
        nprobe = 2, lloydRounds = 1)),
    "Similarity.semDedup" -> (s =>
      Similarity.semDedup(vecs(s, 2L * bigNlist), threshold = 0.999,
        nlist = bigNlist, lloydRounds = 1)),
    "Dedup.simhashNearDupPairs" -> (s => Dedup.simhashNearDupPairs(docs(s))),
    "Dedup.ngramJaccardPairs" -> (s =>
      Dedup.ngramJaccardPairs(docs(s), k = 3)),
    "Dedup.dedupLines" -> (s => Dedup.dedupLines(lineDocs(s))),
    "Dedup.exactSubstrStats" -> (s => Dedup.exactSubstrStats(docs(s), n = 3)),
    "Triangles.triangleCount" -> (s =>
      Triangles.triangleCount(s.createDataFrame(
        Seq((1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 3)))
        .toDF("x", "y"), "x", "y")),
    "Cooccurrence.pairCounts" -> (s =>
      Cooccurrence.pairCounts(s.createDataFrame(
        Seq(("e1", "a"), ("e1", "b"), ("e1", "c"), ("e2", "a"),
          ("e2", "b"), ("e3", "c"))).toDF("e", "i"), col("e"), col("i"))),
    "Quantiles.bucketedNearestRank" -> (s =>
      Quantiles.bucketedNearestRank(grouped(s), Seq("k"), "v", ps, 7L)),
    "Quantiles.bucketedWeightedNearestRank" -> (s =>
      Quantiles.bucketedWeightedNearestRank(grouped(s), Seq("k"), "v", "w",
        ps, 7L)),
    "HeavyHitters.frequentItems" -> (s =>
      HeavyHitters.frequentItems(grouped(s).select(col("k")), "k", 3)),
    "Sampling.allocateProportional" -> (s =>
      Sampling.allocateProportional(
        grouped(s).select(col("v").as("doc_id"), col("k")), "k", 10L)),
    "DistCompare.categoricalTvd" -> (s => {
      val g = grouped(s)
      DistCompare.categoricalTvd(g.where(col("w") > 1), g.where(col("w") < 4),
        col("k"))
    }),
    "Seasonality.dowDeviation" -> (s =>
      Seasonality.dowDeviation(s.createDataFrame(
        Seq("2024-01-01", "2024-01-01", "2024-01-02", "2024-01-08")
          .map(d => Tuple1(ts(d)))).toDF("ts"), "ts")),
    "QueryDefs.qConvCurate" -> (s => QueryDefs.qConvCurate(s, eventsDir)))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString).sorted

  cases.foreach { case (name, op) =>
    test(s"$name: durable staging is result-identical and its tables are " +
      "deleted by releaseDeep(result)") {
      val localOut = op(spark)
      val local = rows(localOut)
      Staging.releaseDeep(localOut)
      val durable = withDurable { (s, dir) =>
        val out = op(s)
        val got = rows(out)
        assert(tablesIn(dir).nonEmpty, s"$name staged no durable table")
        Staging.releaseDeep(out)
        assert(tablesIn(dir).isEmpty,
          s"$name left tables not reachable from its result: " +
            tablesIn(dir).mkString(", "))
        got
      }
      assert(local.nonEmpty)
      assert(durable == local)
    }
  }

  test("no intermediate bypasses Staging: localCheckpoint and the old " +
    "release helpers appear only in ops/Staging.scala") {
    val root = new File("src/main/scala")
    def files(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    val all = files(root)
    assert(all.nonEmpty, s"no sources under ${root.getAbsolutePath}")
    val bypasses = for {
      f <- all if f.getPath != "src/main/scala/graft/ops/Staging.scala"
      src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      word <- Seq(".localCheckpoint(", "Checkpoints") if src.contains(word)
    } yield s"${f.getPath}: $word"
    assert(bypasses.isEmpty, bypasses.mkString("\n"))
  }
}
