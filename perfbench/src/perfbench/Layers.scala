package perfbench

import graft.extract.IocScanner
import graft.functions.{ScanTurn, ScanTurnFlat}
import graft.intel.IntelDb
import graft.model.{IndicatorType => T, Ioc}
import graft.pipeline.ScanJob
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable.ArrayBuffer

/** Single-threaded probes of the layers under the scan pipeline, over the
  * workload's own texts: the scanner alone (`extract.*`), the lookups alone
  * (`intel.*`), and the two per-turn functions that fuse both
  * (`functions.*`). Each timed sweep is repeated and the median reported,
  * after one untimed sweep; the lookup sweep runs once on freshly built
  * databases so its memo and counters start empty.
  */
object Layers {

  private val Repeats = 3

  def probe(texts: Array[Array[Byte]], feeds: Seq[(String, Seq[graft.model.IntelEntry])],
      trace: Trace, pass: Int): Map[String, Double] = {
    val turns = texts.length.toDouble
    val bytes = texts.map(_.length.toLong).sum.toDouble
    val cfgDbs = Inputs.buildDbs(feeds)
    val scanner = new IocScanner(ScanJob.capabilityConfig(cfgDbs))

    // extract: IocScanner.scanInto over every text
    val out = new ArrayBuffer[Ioc](16)
    val cands = ArrayBuffer[Ioc]()
    texts.foreach { b => scanner.scanInto(b, b.length, out); cands ++= out }
    val extractS = timedMedian(trace, "layer.extract", pass) {
      var i = 0
      while (i < texts.length) {
        scanner.scanInto(texts(i), texts(i).length, out); i += 1
      }
    }

    // intel: every candidate against every database, fresh memo
    val dbs = Inputs.buildDbs(feeds)
    val (_, lookupS) = trace.span("layer.intel", pass) {
      var i = 0
      while (i < cands.length) {
        val c = cands(i)
        val isV6 = c.indicator_type == T.Ipv6
        val isIp = isV6 || c.indicator_type == T.Ipv4
        dbs.foreach { db =>
          if (isIp) db.lookupIp(c.value, isV6) else db.lookupString(c.value)
        }
        i += 1
      }
    }
    val st = dbs.map(_.stats)
    val lookups = st.map(s => s.ipLookups + s.stringLookups).sum.toDouble
    val memoHits = st.map(s => s.ipMemoHits + s.stringMemoHits).sum.toDouble
    val matches = st.map(s => s.ipMatches + s.stringMatches).sum.toDouble

    // functions: the fused per-turn scan + lookup the pipeline runs
    val fnDbs = Inputs.buildDbs(feeds).toArray
    val u8 = texts.map(b => UTF8String.fromBytes(b))
    var rows = 0L
    u8.foreach(t => rows += ScanTurnFlat.scan(scanner, fnDbs, null, t).numElements())
    val flatS = timedMedian(trace, "layer.scan_turn_flat", pass) {
      u8.foreach(t => ScanTurnFlat.scan(scanner, fnDbs, null, t))
    }
    val turnS = timedMedian(trace, "layer.scan_turn", pass) {
      u8.foreach(t => ScanTurn.scan(scanner, fnDbs, t))
    }

    Map(
      "extract.mb_per_s" -> bytes / 1e6 / extractS,
      "extract.busy_s" -> extractS,
      "extract.candidates_per_turn" -> cands.length / turns,
      "intel.db_bytes" -> serializedBytes(cfgDbs).toDouble,
      "intel.lookups_per_s" -> lookups / lookupS,
      "intel.lookups_per_turn" -> lookups / turns,
      "intel.match_ratio" -> matches / math.max(1.0, lookups),
      "intel.memo_hit_ratio" -> memoHits / math.max(1.0, lookups),
      "functions.scan_turn_flat_turns_per_s" -> turns / flatS,
      "functions.scan_turn_turns_per_s" -> turns / turnS,
      "functions.rows_per_turn" -> rows / turns)
  }

  private def timedMedian(trace: Trace, name: String, pass: Int)(
      body: => Unit): Double =
    Util.median((1 to Repeats).map(i =>
      trace.span(name, pass, Map("repeat" -> i))(body)._2))

  def serializedBytes(dbs: Seq[IntelDb]): Long = {
    var n = 0L
    val counting = new java.io.OutputStream {
      def write(b: Int): Unit = n += 1
      override def write(b: Array[Byte], off: Int, len: Int): Unit = n += len
    }
    val oos = new java.io.ObjectOutputStream(counting)
    oos.writeObject(dbs.toArray)
    oos.close()
    n
  }
}
