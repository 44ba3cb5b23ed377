package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Runs one benchmark workload through `graft.SparkEntry.queries` with public
  * Spark APIs only, and writes what it saw as JSON lines into `--out`:
  *
  *  - `calls.jsonl`  one record per query call (wall time, rows, error);
  *  - `passes.jsonl` one record per pass (DAG pass or one round of the mix),
  *    with the engine state read after it;
  *  - `run.json`     set-up timestamps, peak RSS, module map, oracle SQL;
  *  - `spans.jsonl`, `stages.jsonl` (traced runs) the span tree
  *    pass > call > build/plan/execute > job, and per-stage task metrics.
  *
  * A call is timed from the query function's invocation to the end of its
  * action: `dag` writes every result to a parquet sink, `interactive`
  * `collect()`s it. Nothing is ever timed through `count()`. Every output
  * ends up under `sink/p<pass>/<query>` for the runner to check; collected
  * rows are written there once the pass's timer has stopped.
  *
  * Usage: Harness --workload W --data DIR --out DIR --seconds S --trace 0|1
  *                --seed N --t0 EPOCH_MS
  */
object Harness {
  /** The reference Airflow DAG's stages in DAG order: ingest + dedup, clean,
    * topics, sentiment, then the daily statistics. */
  val DagStages: Seq[String] = Seq(
    "dedup_url_canonical", "pipeline_dedup_corpus",
    "pipeline_prep_docs",
    "lda_em_topics",
    "u3_vader_sentiment", "u3_sentiment_distribution",
    "a4_daily_value_trend", "a5_daily_share_pct", "a6_daily_pivot",
    "u7_tfidf_top_terms")

  /** The analyst's dashboard mix: one query from each engine module the
    * DAG does not run, taking the retrieval, ANN and graph heavies (the slow
    * tail) where a module has one. */
  val InteractiveMix: Seq[String] = Seq(
    "j_star_revenue_by_region",     // Relational
    "retrieval_maxscore_topk",      // TextOps
    "ann_pq_topk",                  // SimilarityOps
    "mm_frame_sample",              // MultimodalOps
    "graph_triangles",              // GraphOps
    "stream_session_windows")       // StreamingOps

  /** Modules in `SparkEntry.queries` merge order: a later map wins a name. */
  def modules: Seq[(String, Set[String])] = {
    import graft.ops._
    Seq("Relational" -> Relational.queries.keySet,
      "Aggregates" -> Aggregates.queries.keySet,
      "TextOps" -> TextOps.queries.keySet,
      "DedupOps" -> DedupOps.queries.keySet,
      "SimilarityOps" -> SimilarityOps.queries.keySet,
      "MLOps" -> MLOps.queries.keySet,
      "MultimodalOps" -> MultimodalOps.queries.keySet,
      "GraphOps" -> GraphOps.queries.keySet,
      "StreamingOps" -> graft.streaming.StreamingOps.queries.keySet)
  }

  final case class Args(workload: String, data: String, out: String,
      seconds: Double, trace: Boolean, seed: Long, t0: Long)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("data"), m("out"), m("seconds").toDouble,
      m("trace") == "1", m("seed").toLong, m("t0").toLong)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    new File(args.out).mkdirs()
    val root = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${args.out}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.out}/warehouse")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    root.sparkContext.setLogLevel("ERROR")
    val run = new Run(root, args)
    try run.execute() finally {
      run.close()
      root.stop()
    }
  }

  def json(s: String): String = if (s == null) "null" else "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** One benchmark process. Set-up is a warm-up pass (the checked one) and the
  * workload's settle passes; then timed passes run until `--seconds` have
  * been measured and at least `minTimed` ran. A traced run instead makes one
  * untraced and one traced pass. */
final class Run(root: SparkSession, args: Harness.Args) {
  import Harness._

  private val sc = root.sparkContext
  private val calls = new PrintWriter(s"${args.out}/calls.jsonl")
  private val passes = new PrintWriter(s"${args.out}/passes.jsonl")
  private val tracer = new Tracer(sc)
  private var tracing = false
  private val callSeq = new java.util.concurrent.atomic.AtomicInteger()
  private val isDag = args.workload == "dag"
  private val mix = if (isDag) DagStages else InteractiveMix
  /** Untimed settle passes after the warm-up, and timed passes at least.
    * The first sequential pass after the parallel warm-up still compiles
    * code and reads 10-25 % slow. A DAG pass is long, so the DAG spends it
    * as a settle pass and times the next; a round of the mix is short and
    * holds one call per query, so the dashboard times two rounds and
    * reports medians. */
  private val (settlePasses, minTimed) = if (isDag) (1, 1) else (0, 2)
  /** Rows collected in the current pass, written to the sink after it. */
  private val collected = new java.util.concurrent.ConcurrentLinkedQueue[(String, Array[Row], StructType)]()
  private var setupEndMs = 0L
  private var session: SparkSession = root

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def fresh(): SparkSession = {
    val s = root.newSession()
    s.catalog.clearCache()
    s
  }

  /** Order of the interactive mix in round `r`: a seeded shuffle. */
  private def roundOrder(r: Int): Seq[String] =
    if (isDag) mix else new Random(args.seed * 7919L + r).shuffle(mix)

  /** One call: build the DataFrame, then run the action. */
  private def call(s: SparkSession, pass: Int, kind: String, name: String): Unit = {
    val span = s"p$pass.c${callSeq.incrementAndGet()}"
    val fn = graft.SparkEntry.queries(name)
    val t0ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var tBuilt = t0
    var aMs = t0ms
    var rows = -1L
    var err: String = null
    var full: DataFrame = null
    try {
      sc.setLocalProperty(Tracer.SpanKey, s"$span.build")
      val df = fn(s, args.data)
      tBuilt = System.nanoTime()
      aMs = System.currentTimeMillis()
      sc.setLocalProperty(Tracer.SpanKey, s"$span.execute")
      if (isDag) {
        df.write.mode("overwrite").parquet(s"${args.out}/sink/p$pass/$name")
      } else {
        val got = df.collect()
        rows = got.length
        collected.add((name, got, df.schema))
      }
      full = df
    } catch {
      case NonFatal(e) => err = e.getClass.getName
    } finally sc.setLocalProperty(Tracer.SpanKey, null)
    val t1 = System.nanoTime()
    val t1ms = System.currentTimeMillis()
    calls.println(s"""{"pass":$pass,"kind":${json(kind)},"span":${json(span)},"name":${json(name)},""" +
      s""""wall_s":${(t1 - t0) / 1e9},"build_s":${(tBuilt - t0) / 1e9},""" +
      s""""start_ms":$t0ms,"action_ms":$aMs,"end_ms":$t1ms,"rows":$rows,"error":${json(err)}}""")
    if (tracing) {
      tracer.addCall(span, s"p$pass", name, t0ms, aMs, t1ms)
      if (full != null && Tracer.PlanChecked(name)) tracer.expectFullPlan(span, full)
    }
  }

  /** The warm-up pass runs its calls on three threads: it exists to JIT the
    * engine and produce the checked outputs, and cold compilation of
    * independent queries overlaps well. */
  private def warmUp(s: SparkSession, p: Int): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try mix.map(n => pool.submit[Unit](() => call(s, p, "warm", n))).foreach(_.get())
    finally pool.shutdown()
  }

  private def pass(p: Int, kind: String): Unit = {
    val s = if (isDag || p == 0) fresh() else session
    session = s
    if (tracing) tracer.attach(s)
    val gc0 = gcMs
    val t0ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    if (kind == "warm") warmUp(s, p) else roundOrder(p).foreach(n => call(s, p, kind, n))
    val wall = (System.nanoTime() - t0) / 1e9
    val t1ms = System.currentTimeMillis()
    val gc = gcMs - gc0
    if (tracing) tracer.addPass(s"p$p", t0ms, t1ms)
    val cached = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    val rt = Runtime.getRuntime
    if (tracing) System.gc()
    val heap = rt.totalMemory - rt.freeMemory
    passes.println(s"""{"pass":$p,"kind":${json(kind)},"wall_s":$wall,"start_ms":$t0ms,"end_ms":$t1ms,""" +
      s""""gc_ms":$gc,"cached_bytes":$cached,"heap_bytes":$heap,"traced":$tracing}""")
    passes.flush(); calls.flush()
    while (!collected.isEmpty) {
      val (name, rows, schema) = collected.poll()
      s.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"${args.out}/sink/p$p/$name")
    }
  }

  def execute(): Unit = {
    pass(0, "warm")
    (1 to settlePasses).foreach(pass(_, "settle"))
    setupEndMs = System.currentTimeMillis()
    val first = 1 + settlePasses
    if (args.trace) {
      pass(first, "timed")
      tracing = true
      pass(first + 1, "traced")
      tracing = false
    } else {
      val budgetNs = (args.seconds * 1e9).toLong
      val start = System.nanoTime()
      var p = first
      while (p < first + minTimed || System.nanoTime() - start < budgetNs) {
        pass(p, "timed")
        p += 1
      }
    }
  }

  def close(): Unit = {
    calls.close(); passes.close()
    if (args.trace) tracer.write(args.out)
    val status = scala.io.Source.fromFile("/proc/self/status")
    val hwm = try status.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong
    }.getOrElse(-1L) finally status.close()
    val mods = modules.map { case (m, ks) =>
      s"${json(m)}:" + ks.toSeq.sorted.map(json).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val oracle = graft.SparkEntry.oracleSql
    val oracles = mix.distinct.flatMap(n => oracle.get(n).map(q => s"${json(n)}:${json(q)}"))
      .mkString("{", ",", "}")
    val w = new PrintWriter(s"${args.out}/run.json")
    w.println(s"""{"t0_ms":${args.t0},"setup_end_ms":$setupEndMs,"peak_rss_kb":$hwm,""" +
      s""""cores":4,"workload":${json(args.workload)},"sink":$isDag,"mix":${mix.map(json).mkString("[", ",", "]")},"modules":$mods,"oracles":$oracles}""")
    w.close()
  }
}
