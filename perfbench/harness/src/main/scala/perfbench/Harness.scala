package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.index.{IndexStore, InvertedIndex}
import graft.streaming.IndexMaintenance

/** One benchmark run in one JVM: start a Spark session, drive one
  * workload through the engine's public entry points from a single
  * client thread, and write what it measured and what the engine
  * returned to `<out>/result.json` (workload outputs go under `<out>`)
  * for `run.py` to check and report. Prints no result itself.
  *
  * Usage: Harness <workload> <inputDir> <outDir> <seconds> <trace 0|1>
  *                <t0> <queryList>
  * `t0` is the epoch second at which the launcher started this JVM;
  * `queryList` names the `query_mix` queries.
  */
object Harness {

  def now(): Double = System.nanoTime() / 1e9

  def main(args: Array[String]): Unit = {
    val Array(workload, in, out, seconds, trace, t0, queryList) = args
    // the launcher's spawn instant on this JVM's monotonic clock
    val spawn = now() - (System.currentTimeMillis() / 1e3 - t0.toDouble)
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.local.dir", s"$out/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$out/checkpoint")
    val rec = new Recorder(spark, trace == "1")
    val w: Workload = workload match {
      case "corpus_build" => new CorpusBuild(spark, in, out, rec)
      case "index_serve"  => new IndexServe(spark, in, out, rec)
      case "query_mix"    => new QueryMix(spark, in, out, rec, queryList)
      case other => sys.error(s"unknown workload $other")
    }
    w.setup()
    rec.metric("setup_s", now() - spawn, "s")
    // round 0 warms the JVM and the engine's code paths up and is left out
    // of the timings (its outputs are still checked); then whole rounds
    // until the window is over, and never fewer than the workload's minimum
    // (a fixed count keeps how many samples a run takes from varying)
    w.warmup()
    val start = now()
    do {
      rec.round += 1
      w.round(rec.round)
    } while (rec.round < w.minRounds || now() - start < seconds.toDouble)
    w.finish()
    rec.finish()
    rec.write(s"$out/result.json", s"$out/trace.json")
    spark.stop()
  }
}

/** Measurements of one run. Every operation the client sends is timed
  * from outside the engine; a traced run also records a span around
  * each call into a layer and Spark's work counters per operation. */
final class Recorder(spark: SparkSession, val trace: Boolean) {
  import Harness.now
  private val metrics = ArrayBuffer.empty[(String, Double, String)]
  private val layers = ArrayBuffer.empty[(String, Double, String)]
  private val extra = ArrayBuffer.empty[(String, String)]
  /** The round in progress. */
  var round = 0
  /** Operations whose outputs are checked (default: every timed call). */
  var checked: Option[Int] = None

  def metric(name: String, v: Double, unit: String): Unit =
    metrics += ((name, v, unit))
  /** A layer metric of this workload only (traced runs; `trace.json`). */
  def layer(name: String, v: Double, unit: String): Unit =
    layers += ((name, v, unit))
  /** Raw JSON attached to the result for the checker. */
  def attach(key: String, json: String): Unit = extra += ((key, json))

  // ---- spans --------------------------------------------------------------
  private final class Span(val id: Int, val parent: Int, val name: String,
                           val start: Double, var end: Double)
  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Span]

  def span[T](name: String)(body: => T): T =
    if (!trace) body
    else {
      val s = new Span(spans.size, open.headOption.map(_.id).getOrElse(-1),
        name, now(), 0.0)
      spans += s
      open = s :: open
      try body
      finally { s.end = now(); open = open.tail }
    }

  def spanSeconds(name: String): Seq[Double] =
    spans.filter(_.name == name).map(s => s.end - s.start).toSeq

  // ---- Spark work counters --------------------------------------------------
  /** jobs, stages, tasks, cpu ns, gc ms, shuffle bytes written, bytes spilled */
  private val counts = new Array[Long](7)
  private object listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      counts.synchronized { counts(0) += 1 }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      counts.synchronized { counts(1) += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      counts.synchronized {
        counts(2) += 1
        if (m != null) {
          counts(3) += m.executorCpuTime
          counts(4) += m.jvmGCTime
          counts(5) += m.shuffleWriteMetrics.bytesWritten
          counts(6) += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }
  private val filesRead = ArrayBuffer.empty[Long]
  /** The engine's own `observe("metrics")` token counts, as reported. */
  val observedWords = ArrayBuffer.empty[Long]
  private object qeListener extends QueryExecutionListener {
    override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = {
      qe.observedMetrics.get("metrics").foreach { r =>
        observedWords.synchronized { observedWords += r.getAs[Long]("input_words") }
      }
      if (trace) {
        val n = scans(qe.executedPlan)
          .map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
        filesRead.synchronized { filesRead += n }
      }
    }
    override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
  }
  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case s: FileSourceScanExec => Seq(s)
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }
  spark.listenerManager.register(qeListener)
  if (trace) spark.sparkContext.addSparkListener(listener)

  /** Waits until the listener bus has delivered every event posted so
    * far (listener and query-execution events are asynchronous). */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** The counters above plus files scanned, once all events are in. */
  private def countsNow(): Array[Long] = {
    drain()
    counts.synchronized(counts.clone()) :+ filesRead.synchronized(filesRead.sum)
  }

  // ---- operations -----------------------------------------------------------
  /** One client operation. `entry` is the time inside the engine call that
    * returns a DataFrame (or performs the whole operation), `plan` the
    * physical planning of that DataFrame (traced runs only), `exec` its
    * execution; `work` holds the Spark counters of a traced run. */
  final class Op(val kind: String, val round: Int) {
    var entrySec, planSec, execSec, total = 0.0
    var work: Array[Long] = new Array[Long](8)
    private def timed[T](add: Double => Unit, name: String)(body: => T): T = {
      val t = now()
      try span(name)(body) finally add(now() - t)
    }
    def entry[T](name: String)(body: => T): T = timed(entrySec += _, name)(body)
    def plan(df: DataFrame): Unit =
      if (trace) timed(planSec += _, "plan")(df.queryExecution.executedPlan)
    def exec[T](body: => T): T = timed(execSec += _, "exec")(body)
  }
  val ops = ArrayBuffer.empty[Op]

  def op[T](kind: String)(body: Op => T): T = {
    val o = new Op(kind, round)
    val before = if (trace) countsNow() else null
    val t = now()
    val r = span(kind)(body(o))
    o.total = now() - t
    if (trace) o.work = countsNow().zip(before).map { case (a, b) => a - b }
    ops += o
    r
  }

  /** Operations after the warm-up round 0. */
  def warm: Seq[Op] = ops.filter(_.round > 0).toSeq

  /** Spark counters of warm operations of `kind`, per operation: jobs,
    * stages, tasks, cpu s, gc s, shuffle MB written, MB spilled. */
  def sparkPerOp(kind: String): Seq[Double] = {
    val w = warm.filter(_.kind == kind)
    val scale = Seq(1.0, 1.0, 1.0, 1e-9, 1e-3, 1e-6, 1e-6)
    scale.indices.map(i => w.map(_.work(i)).sum * scale(i) / w.size)
  }

  def sparkLayers(tag: String, c: Seq[Double]): Unit =
    Seq("jobs", "stages", "tasks", "cpu_s", "gc_s", "shuffle_write_mb", "spill_mb")
      .zip(c).zip(Seq("count", "count", "count", "s", "s", "MB", "MB"))
      .foreach { case ((n, v), u) => layer(s"spark.$tag.$n", v, u) }

  /** The metrics every workload reports, over its warm operations. */
  def finish(): Unit = {
    val w = warm
    metric("op_p50_ms", Stats.median(w.map(_.total)) * 1e3, "ms")
    metric("ops_per_s", w.size / w.map(_.total).sum, "ops/s")
    if (trace) {
      def med(f: Op => Double) = Stats.median(w.map(f)) * 1e3
      metric("client.entry_ms", med(_.entrySec), "ms")
      metric("client.plan_ms", med(_.planSec), "ms")
      metric("client.exec_ms", med(_.execSec), "ms")
      def mean(i: Int) = w.map(_.work(i).toDouble).sum / w.size
      metric("spark.jobs_per_op", mean(0), "count")
      metric("spark.stages_per_op", mean(1), "count")
      metric("spark.tasks_per_op", mean(2), "count")
      metric("spark.cpu_s_per_op", mean(3) / 1e9, "s")
      metric("spark.shuffle_write_mb_per_op", mean(5) / 1e6, "MB")
      metric("spark.spill_mb_per_op", mean(6) / 1e6, "MB")
      metric("spark.files_read_per_op", mean(7), "count")
    }
  }

  def write(resultPath: String, tracePath: String): Unit = {
    def num(v: Double) =
      if (v.isNaN || v.isInfinite) "null" else BigDecimal(v).toString
    def obj(ms: Seq[(String, Double, String)]) = ms.map { case (n, v, u) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString("{", ", ", "}")
    val opTimes = ops.map(o => s"[${Stats.str(o.kind)}, ${o.round}, ${num(o.total)}]")
    val body = (Seq(s""""attempted": ${checked.getOrElse(ops.size)}""",
      s""""rounds": $round""",
      s""""metrics": ${obj(metrics.toSeq)}""",
      s""""op_seconds": ${opTimes.mkString("[", ", ", "]")}""") ++
      extra.map { case (k, j) => s""""$k": $j""" }).mkString("{", ",\n", "}\n")
    Files.writeString(Paths.get(resultPath), body)
    if (trace) {
      val sp = spans.map(s =>
        s"""{"id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", """ +
          s""""start": ${num(s.start)}, "end": ${num(s.end)}}""")
      Files.writeString(Paths.get(tracePath),
        s"""{"layers": ${obj(layers.toSeq)},\n"spans": """ +
          sp.mkString("[\n", ",\n", "\n]}\n"))
    }
  }
}

trait Workload {
  /** Timed rounds every run makes, however short its window. */
  def minRounds: Int = 1
  def setup(): Unit
  /** Round 0: operations that warm the engine up before the window. */
  def warmup(): Unit = round(0)
  /** One whole round of the workload's operations. */
  def round(i: Int): Unit
  def finish(): Unit
}

object Stats {
  /** Linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def str(x: String): String =
    "\"" + x.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n") + "\""
}

/** Seeded text corpus → ranked inverted index through the partitioned
  * text sink. One round = one full build + write; the warm-up is four. */
final class CorpusBuild(spark: SparkSession, in: String, out: String,
                        rec: Recorder) extends Workload {
  import spark.implicits._
  private val input = s"$in/input"
  private var stop: Seq[String] = Nil
  private var punct: Seq[Char] = Nil
  private val outputs = ArrayBuffer.empty[String]
  private val observed = ArrayBuffer.empty[Long]

  def setup(): Unit = {
    def lines(f: String) = Files.readAllLines(Paths.get(in, "skip", f))
      .asScala.toSeq.filter(_.nonEmpty)
    stop = lines("stop-words.txt")
    punct = lines("punctuation.txt").map(_.head)
  }

  private def build(dir: String) = InvertedIndex.formatIndex(
    InvertedIndex.build(spark, dir, stop, punct)).as[String]

  /** Four builds: build times keep falling while the JIT settles, and
    * level off from about the fifth build of a JVM on. */
  override def warmup(): Unit = (1 to 4).foreach(_ => round(0))

  /** Four timed builds: a window of about 8 s. */
  override def minRounds: Int = 4

  def round(i: Int): Unit = {
    val outDir = s"$out/index/build-${outputs.size}"
    rec.op("build") { o =>
      val lines = o.entry("index.build")(build(input))
      o.plan(lines.toDF())
      o.exec(rec.span("index.sink") { InvertedIndex.writeIndex(lines, outDir) })
    }
    outputs += Stats.str(outDir)
    // the engine's observe("metrics") count of this build (-1: none seen)
    rec.drain()
    observed += rec.observedWords.synchronized {
      val n = rec.observedWords.lastOption.getOrElse(-1L)
      rec.observedWords.clear()
      n
    }
    if (rec.trace && i > 0) stagePrefixes()
  }

  private def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** Materializes growing prefixes of the build's public stages; a
    * stage's self time is its prefix time minus the previous prefix's. */
  private def stagePrefixes(): Unit = {
    implicit val s: SparkSession = spark
    val scan = InvertedIndex.scanTextDir(spark, input)
    val tok = InvertedIndex.tokenize(scan, punct)
    val kept = InvertedIndex.removeStopWords(tok, stop)
    val tdc = InvertedIndex.termDocCounts(kept)
    rec.span("prefix.scan") { noop(scan) }
    rec.span("prefix.tokenize") { noop(tok) }
    rec.span("prefix.stopword") { noop(kept) }
    rec.span("prefix.count") { noop(tdc) }
    rec.span("prefix.rank") { noop(InvertedIndex.postingLists(tdc)) }
    rec.span("prefix.sort_sink") {
      InvertedIndex.writeIndex(build(input), s"$out/index/prefix")
    }
    if (rec.round == 1) {
      val raw = tok.count().toDouble
      val k = kept.count().toDouble
      rec.layer("index.tokens_raw", raw, "count")
      rec.layer("index.tokens_kept", k, "count")
      rec.layer("index.kept_ratio", k / raw, "ratio")
    }
  }

  def finish(): Unit = {
    rec.attach("builds", outputs.mkString("[", ", ", "]"))
    rec.attach("observed_words", observed.mkString("[", ", ", "]"))
    rec.attach("detail",
      s"""{"build_s": ${Stats.median(rec.warm.map(_.total))}}""")
    if (rec.trace) {
      val names = Seq("scan", "tokenize", "stopword", "count", "rank", "sort_sink")
      val tot = names.map(n => Stats.median(rec.spanSeconds(s"prefix.$n")))
      val self = tot.head +: tot.zip(tot.tail).map { case (a, b) => math.max(b - a, 0.0) }
      Seq("index.scan_s", "functions.tokenize_s", "index.stopword_s",
        "index.count_s", "index.rank_s", "index.sort_sink_s")
        .zip(self).foreach { case (n, v) => rec.layer(n, v, "s") }
      rec.sparkLayers("build", rec.sparkPerOp("build"))
    }
  }
}

/** Build once, serve many: the positional index artifact is built in
  * set-up, then one client sends a seeded stream of top-postings lookups
  * through the maintained serving path, with small appended batches and
  * compactions at fixed points. One round = four lookups, one appended
  * batch, five lookups (which read the uncompacted ledger tail) and one
  * compaction, as `ops.jsonl` lists them. */
final class IndexServe(spark: SparkSession, in: String, out: String,
                       rec: Recorder) extends Workload {
  import Harness.now
  import spark.implicits._
  private val TopK = 10
  private val statsTable = "perfbench_serve_stats"
  private var termTable = ""
  private var indexBuild = 0.0
  private val rounds: Iterator[Seq[JsonNode]] = {
    val mapper = new ObjectMapper()
    val all = Files.readAllLines(Paths.get(in, "ops.jsonl")).asScala
      .map(l => mapper.readTree(l)).toVector
    // every round ends with its compaction
    val ends = all.indices.filter(all(_).get("op").asText == "compact")
    (-1 +: ends).zip(ends).map { case (a, b) => all.slice(a + 1, b + 1) }.iterator
  }
  private val results = new PrintWriter(new File(s"$out/serve_results.jsonl"))
  private var sinceCompact = 0
  private val tails = ArrayBuffer.empty[Double]

  /** Two rounds: lookups and compactions get faster over the first
    * rounds of a JVM while the JIT settles (lookups about 0.35 s in the
    * second round, 0.29 s in the third, 0.24-0.28 s from the fourth on,
    * on a 4-core Xeon). */
  override def warmup(): Unit = (1 to 2).foreach(_ => round(0))

  /** Two timed rounds: eighteen lookups per run. */
  override def minRounds: Int = 2

  def setup(): Unit = {
    val t = now()
    termTable = rec.span("store.build") { IndexStore.termDocTable(spark, in) }
    indexBuild = now() - t
  }

  private def lookup(term: String): Unit = {
    val rows = rec.op("lookup") { o =>
      val df = o.entry("store.postings") {
        IndexMaintenance.postings(spark, termTable, statsTable)
      }
      val q = df.filter(col("token") === term)
        .orderBy(col("cnt").desc, col("doc_id")).limit(TopK)
        .select(col("doc_id"), col("cnt"))
      o.plan(q)
      o.exec(q.collect())
    }
    if (rec.round > 0) tails += sinceCompact
    results.println(rows.map(r => s"[${r.getLong(0)}, ${r.getLong(1)}]")
      .mkString("""{"op": "lookup", "rows": [""", ", ", "]}"))
  }

  private def append(op: JsonNode): Unit = {
    val batch = op.get("docs").asScala.toSeq
      .map(d => (d.get(0).asLong, d.get(1).asText)).toDF("doc_id", "text")
    rec.op("append") { o =>
      o.entry("streaming.append") {
        IndexMaintenance.appendBatch(batch, op.get("batch").asLong,
          termTable, statsTable)
      }
    }
    sinceCompact += 1
    results.println("""{"op": "append"}""")
  }

  private def compact(): Unit = {
    rec.op("compact") { o =>
      o.entry("streaming.compact") {
        IndexMaintenance.compact(spark, termTable, Some(statsTable))
      }
    }
    sinceCompact = 0
    results.println("""{"op": "compact"}""")
  }

  def round(i: Int): Unit = rounds.next().foreach { op =>
    op.get("op").asText match {
      case "lookup"  => lookup(op.get("term").asText)
      case "append"  => append(op)
      case "compact" => compact()
    }
  }

  def finish(): Unit = {
    results.close()
    rec.attach("doc_count",
      IndexMaintenance.docCount(spark, statsTable).toString)
    val lk = rec.warm.filter(_.kind == "lookup")
    def ms(kind: String, q: Double) =
      Stats.quantile(rec.warm.filter(_.kind == kind).map(_.total), q) * 1e3
    rec.attach("detail", s"""{"index_build_s": $indexBuild, """ +
      s""""lookup_p50_ms": ${ms("lookup", 0.5)}, "lookup_p95_ms": """ +
      s"""${ms("lookup", 0.95)}, "append_p50_ms": ${ms("append", 0.5)}, """ +
      s""""serve_ops_per_s": ${rec.warm.size / rec.warm.map(_.total).sum}, """ +
      s""""warm_lookups": ${lk.size}}""")
    if (rec.trace) {
      def med(f: rec.Op => Double) = Stats.median(lk.map(f)) * 1e3
      def mean(i: Int) = lk.map(_.work(i)).sum.toDouble / lk.size
      rec.layer("store.build_s", indexBuild, "s")
      rec.layer("store.postings_call_ms", med(_.entrySec), "ms")
      rec.layer("store.lookup_plan_ms", med(_.planSec), "ms")
      rec.layer("store.lookup_exec_ms", med(_.execSec), "ms")
      rec.layer("store.jobs_per_lookup", mean(0), "count")
      rec.layer("store.files_read_per_lookup", mean(7), "count")
      rec.layer("store.tail_batches", tails.sum / tails.size, "count")
      rec.layer("streaming.append_jobs", rec.sparkPerOp("append").head, "count")
      rec.layer("streaming.compact_ms", Stats.median(
        rec.ops.filter(_.kind == "compact").map(_.total).toSeq) * 1e3, "ms")
    }
  }
}

/** Breadth: a fixed list of registered queries over the generated
  * tables, the cache cleared between queries as `graft.Verify` does.
  * One round = one pass over the list, timed as one operation, after a
  * warm-up of the first query alone; every result is written as parquet
  * for the DuckDB oracle check. */
final class QueryMix(spark: SparkSession, in: String, out: String,
                     rec: Recorder, listFile: String) extends Workload {
  private val names: Seq[String] =
    Files.readAllLines(Paths.get(listFile)).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\\s+").head)
  private val fns = SparkEntry.queries
  private val family = Map("q" -> "relational", "tx" -> "text", "dd" -> "dedup",
    "sm" -> "similarity", "mm" -> "multimodal", "pl" -> "pipeline")
  private def familyOf(n: String) = family(n.takeWhile(_.isLetter))

  def setup(): Unit = {
    val oracles = SparkEntry.oracleSql
    val missing = names.filterNot(n => fns.contains(n) && oracles.contains(n))
    require(missing.isEmpty, s"queries without an entry or an oracle: $missing")
    Files.writeString(Paths.get(out, "oracle_sql.json"), names
      .map(n => s"${Stats.str(n)}: ${Stats.str(oracles(n))}")
      .mkString("{", ",\n", "}\n"))
  }

  private val outputs = ArrayBuffer.empty[String]

  /** The first query alone: it pays the session's first-query costs. */
  override def warmup(): Unit = rec.op("warmup")(run(0, names.head, _))

  /** One pass over the list is one operation. */
  def round(i: Int): Unit = rec.op("pass") { o => names.foreach(run(i, _, o)) }

  private def run(i: Int, n: String, o: rec.Op): Unit = {
    spark.catalog.clearCache()
    val dir = s"$out/mix/$i/$n"
    rec.span(s"queries.q.$n") {
      val df = o.entry(s"queries.${familyOf(n)}")(fns(n)(spark, in))
      o.plan(df)
      o.exec(df.write.mode("overwrite").parquet(dir))
    }
    outputs += s"[${Stats.str(n)}, ${Stats.str(dir)}]"
  }

  def finish(): Unit = {
    val passes = rec.warm.map(_.total)
    rec.checked = Some(outputs.size)
    rec.attach("outputs", outputs.mkString("[", ", ", "]"))
    rec.attach("detail", s"""{"mix_s": ${Stats.median(passes)}}""")
    if (rec.trace) {
      // spans of round 0 (the warm-up) come first; skip them
      def perPass(n: String) = Stats.median(rec.spanSeconds(s"queries.q.$n")
        .drop(if (n == names.head) 1 else 0))
      family.values.toSeq.sorted.foreach { f =>
        rec.layer(s"queries.${f}_s",
          names.filter(familyOf(_) == f).map(perPass).sum, "s")
      }
      val w = rec.warm
      rec.layer("queries.plan_s", w.map(o => o.entrySec + o.planSec).sum / w.size, "s")
      rec.layer("queries.exec_s", w.map(_.execSec).sum / w.size, "s")
      names.foreach(n => rec.layer(s"queries.q.${n}_s", perPass(n), "s"))
      rec.sparkLayers("mix", rec.sparkPerOp("pass"))
    }
  }
}
