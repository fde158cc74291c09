package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.{Callable, ExecutorService, Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.io.Source
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchAccess
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftFunctions, GraftSession}
import graft.analytics.EscoAnalytics
import graft.enrich.{IdentityTranslator, Translate}
import graft.operators.Curation
import graft.profile.Profiles
import graft.sources.EscoWarehouse
import graft.vector.{HashingEmbedder, SemanticSearch}

/** The benchmark driver: one JVM per run. It starts a graft session,
  * prepares the workload's inputs (generated beforehand by `gen.py`),
  * measures the workload's ops for `--seconds`, checks what the ops
  * returned or wrote, and writes a result file for `run.py`:
  * metrics with units, op counts, checks, and the outputs `run.py`
  * compares against the generator's expected values.
  *
  * Every op runs on a worker thread under a deadline. An op that fails or
  * misses its deadline counts as failed and is charged the deadline; its
  * Spark jobs are cancelled, and the measurement stops there, because a
  * call stuck in driver-side planning cannot be cancelled. The process
  * halts right after the result file is written, so such a thread never
  * runs under a later measurement.
  *
  * With `--trace 1` every other block of ops is traced: spans around each
  * call into a layer, and the [[SpanListener]], attached only while a
  * traced block runs, charges Spark work to them. The traced ops give the
  * per-layer metrics; traced against untraced op times (the untraced ops
  * run without the listener, as in an end-to-end run) give
  * `trace.overhead_frac`. */
object Main {

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = opts("out")
    val result = mutable.LinkedHashMap[String, Any]()
    val code =
      try { new Bench(opts, result).run(); 0 }
      catch {
        case e: Throwable =>
          e.printStackTrace()
          result("error") = s"${e.getClass.getName}: ${e.getMessage}"
          1
      }
    val w = new PrintWriter(out, "UTF-8")
    try w.write(new ObjectMapper().registerModule(DefaultScalaModule)
      .writerWithDefaultPrettyPrinter().writeValueAsString(result))
    finally w.close()
    System.out.flush()
    System.err.flush()
    Runtime.getRuntime.halt(code)
  }
}

/** One op of the search session's mix (`gen.py` `gen_queries`). */
final case class Query(op: String, typ: String, threshold: Double, limit: Int, text: String)

/** What one op returned: its wall time (the deadline when it failed). */
final case class Outcome[+T](kind: String, seconds: Double, value: Option[T], traced: Boolean) {
  def failed: Boolean = value.isEmpty
}

final class Bench(opts: Map[String, String], result: mutable.Map[String, Any]) {
  private val workload = opts("workload")
  private val seconds = opts("seconds").toDouble
  private val trace = opts("trace") == "1"
  private val data = opts("data")
  private val work = opts("work")
  private val deadlines: Map[String, Double] =
    opts("deadlines").split(',').map { kv =>
      val Array(k, v) = kv.split('='); k -> v.toDouble
    }.toMap

  private val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  /** Raw times in seconds of the untraced ops, by op kind; `run.py` turns
    * them into the latency and duration metrics. */
  private val samples = mutable.LinkedHashMap[String, Seq[Double]]()
  /** Traced runs: the same for the traced ops. */
  private val traceSamples = mutable.LinkedHashMap[String, Seq[Double]]()
  /** The op kinds the workload runs, each of which should have samples. */
  private var kinds: Seq[String] = Nil
  private val diagnostics = mutable.LinkedHashMap[String, Any]()
  private val observed = mutable.LinkedHashMap[String, Any]()
  private val checks = mutable.ArrayBuffer[Map[String, Any]]()
  private var attempted = 0L
  private var failedOps = 0L
  private var stopped = false
  /** Wall time of the measured window. */
  private var window = 0.0
  /** Spans and listener counters of the measured window. */
  private var snap: (Seq[Span], Map[Long, Counters]) = (Nil, Map.empty)

  private var spark: SparkSession = _
  private var tracer: Tracer = _
  private val listener = new SpanListener
  private var listening = false
  private val pool: ExecutorService = Executors.newCachedThreadPool(
    new ThreadFactory {
      private val n = new AtomicInteger
      override def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"perfbench-op-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      }
    })

  private def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  private def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    checks += Map("name" -> name, "ok" -> ok, "detail" -> (if (ok) "" else detail))

  /** Read outputs back for the checks; when they cannot be read (an op
    * failed before writing them) that is a failed check, not a crash. */
  private def readingOutputs(name: String)(body: => Unit): Unit =
    try body
    catch { case e: Exception => check(name, ok = false, e.toString) }

  private def now(): Long = System.nanoTime()
  private def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  // -- ops under deadlines --------------------------------------------------

  /** Run `f` as one op of kind `kind` (`<op>` or `<op>.<variant>`) on a
    * worker thread under the op's deadline. After a failure every later op
    * fails unrun. */
  def op[T](kind: String, traced: Boolean = false)(f: => T): Outcome[T] = {
    val deadline = deadlines.getOrElse(kind.takeWhile(_ != '.'), deadlines("default"))
    attempted += 1
    if (stopped) {
      failedOps += 1
      return Outcome(kind, deadline, None, traced)
    }
    val sc = spark.sparkContext
    val group = s"perfbench-$kind-$attempted"
    val t0 = now()
    val fut = pool.submit(new Callable[T] {
      override def call(): T = {
        sc.setJobGroup(group, s"perfbench $kind", interruptOnCancel = true)
        try tracer.op(traced)(f) finally sc.clearJobGroup()
      }
    })
    try {
      val v = fut.get((deadline * 1e9).toLong, TimeUnit.NANOSECONDS)
      Outcome(kind, since(t0), Some(v), traced)
    } catch {
      case e: Throwable =>
        val why = e match {
          case _: java.util.concurrent.TimeoutException => s"missed its ${deadline}s deadline"
          case x: java.util.concurrent.ExecutionException => String.valueOf(x.getCause)
          case x => x.toString
        }
        System.err.println(s"[perfbench] op $kind failed: $why")
        diagnostics.getOrElseUpdate("failures", mutable.ArrayBuffer[String]())
          .asInstanceOf[mutable.ArrayBuffer[String]] += s"$kind: $why"
        failedOps += 1
        stopped = true
        sc.cancelJobGroup(group)
        fut.cancel(true)
        Outcome(kind, deadline, None, traced)
    }
  }

  private def span[T](name: String)(f: => T): T = tracer.span(name)(f)

  /** Build + plan a frame under `<layer>.<what>_plan`, then run its action
    * under `<layer>.<what>_exec`. */
  private def planThen[T](name: String)(build: => DataFrame)(act: DataFrame => T): T = {
    val df = span(s"${name}_plan") { val d = build; d.queryExecution.executedPlan; d }
    span(s"${name}_exec")(act(df))
  }

  // -- session ----------------------------------------------------------

  private def startSession(): Double = {
    val t0 = now()
    spark = GraftSession.prepare(GraftSession.local(appName = s"perfbench-$workload"))
    tracer = new Tracer(spark.sparkContext)
    val s = since(t0)
    diagnostics("session.start_s") = s
    s
  }

  /** A traced run's pass through the workload's code paths (class
    * loading, codegen, JIT) before its traced and untraced blocks. */
  private def warm(body: => Unit): Double = {
    val t0 = now()
    body
    val s = since(t0)
    diagnostics("session.warm_s") = s
    s
  }

  def run(): Unit = {
    result("workload") = workload
    workload match {
      case "write" => write()
      case "read" => read()
      case "heavy" => heavy()
      case "prepare" => prepare()
      case other => sys.error(s"unknown workload $other")
    }
    result("attempted") = attempted
    result("failed") = failedOps
    result("window_s") = window
    result("kinds") = kinds
    result("samples") = samples
    result("trace_samples") = traceSamples
    result("metrics") = metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    result("checks") = checks.toList
    result("observed") = observed
    result("diagnostics") = diagnostics
  }

  // -- measurement loop and trace summary ---------------------------------

  /** Run blocks of `block` consecutive ops (`once(i, traced)` runs op i)
    * on this thread for `seconds`, and at least `minBlocks` blocks; return
    * the outcomes and the window's wall time. Whole blocks keep the op mix
    * of every run the same. In a traced run every other block is traced
    * and has the listener attached. (A traced block does not replay the
    * untraced block's ops: a search repeated at once runs up to twice as
    * fast, which would read as negative overhead.) */
  private def measure[T](block: Int, minBlocks: Int)(
      once: (Int, Boolean) => Outcome[T]): (Seq[Outcome[T]], Double) = {
    val outs = mutable.ArrayBuffer[Outcome[T]]()
    // a traced run alternates untraced and traced blocks, as many of each
    val least = if (trace) (math.max(minBlocks, 2) + 1) / 2 * 2 else minBlocks
    val t0 = now()
    var b = 0
    while (!stopped && (since(t0) < seconds || b < least)) {
      val traced = trace && b % 2 == 1
      listen(traced)
      (0 until block).foreach(j => outs += once(b * block + j, traced))
      b += 1
    }
    keepSamples(outs.toSeq)
    (outs.toSeq, since(t0))
  }

  /** Attach or detach the listener, between ops. Every event already
    * posted is handled first, so a traced op's counters are complete and
    * an untraced op's late events never reach the listener. */
  private def listen(on: Boolean): Unit = if (on != listening) {
    val sc = spark.sparkContext
    PerfbenchAccess.drainListeners(sc)
    if (on) sc.addSparkListener(listener) else sc.removeSparkListener(listener)
    listening = on
  }

  /** Detach the listener and freeze the spans and counters of the traced
    * ops before anything else runs. */
  private def takeSnapshot(): Unit = {
    listen(false)
    snap = (tracer.all, listener.snapshot)
  }

  /** Spans and counters of the traced ops: the trace file, the
    * attribution checks, Spark runtime metrics. `tracedWall` is the traced
    * ops' summed wall time. Returns per-span-name aggregates (wall
    * seconds, call count, counters). */
  private def summarizeTrace(tracedWall: Double): Map[String, (Double, Int, Counters)] = {
    val (spans, counts) = snap
    val byName = spans.groupBy(_.name).map { case (n, ss) =>
      val c = new Counters
      ss.foreach(s => counts.get(s.id).foreach(c.add))
      n -> (ss.map(_.seconds).sum, ss.size, c)
    }
    // the listener is attached only around traced ops: every job it saw
    // belongs to a traced op's span, to the traced op outside any span
    // (which should be none), or to no op at all (which should be none)
    val traced = new Counters
    counts.filter(_._1 >= Tracer.Unattributed).values.foreach(traced.add)
    val unattributed = counts.get(Tracer.Unattributed).map(_.jobs).getOrElse(0L)
    check("trace.jobs_attributed", unattributed == 0,
      s"$unattributed of the traced ops' ${traced.jobs} jobs ran outside any span")
    val escaped = counts.filter(_._1 < Tracer.Unattributed).values.map(_.jobs).sum
    check("trace.jobs_in_ops", escaped == 0,
      s"$escaped jobs started while traced ops ran, outside every op")
    metric("spark.gc_frac", traced.gcMs.toDouble / traced.runMs.max(1), "ratio")
    val cores = spark.sparkContext.defaultParallelism
    metric("spark.task_cpu_frac", traced.cpuNs / 1e9 / (tracedWall * cores), "ratio")
    // self time per layer: a span's wall minus its children's
    val childSum = spans.groupBy(_.parent).map { case (p, ss) => p -> ss.map(_.seconds).sum }
    val selfByLayer = spans.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => s.seconds - childSum.getOrElse(s.id, 0.0)).sum
    }
    val file = new File(work, s"trace-$workload-${opts("seed")}.json")
    val doc = Map(
      "workload" -> workload, "seed" -> opts("seed"), "traced_wall_s" -> tracedWall,
      "jobs_traced" -> traced.jobs, "jobs_unattributed" -> unattributed,
      "layer_self_s" -> selfByLayer,
      "spans" -> spans.map(s => Map(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "request" -> s.request, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "counters" -> counts.get(s.id).map(_.asMap).getOrElse(Map.empty))))
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(file, doc)
    diagnostics("trace_file") = file.getPath
    diagnostics("layer_self_s") = selfByLayer
    byName
  }

  private def aggregate(byName: Map[String, (Double, Int, Counters)], names: String*) = {
    val c = new Counters
    var s = 0.0
    var n = 0
    names.flatMap(byName.get).foreach { case (t, k, cc) => s += t; n += k; c.add(cc) }
    (s, n, c)
  }

  /** Op times by kind, the untraced in `samples`, the traced in
    * `traceSamples`. */
  private def keepSamples(outs: Seq[Outcome[Any]]): Unit = {
    val (t, u) = outs.partition(_.traced)
    for ((into, os) <- Seq(traceSamples -> t, samples -> u); (k, ks) <- os.groupBy(_.kind))
      into(k) = into.getOrElse(k, Nil) ++ ks.map(_.seconds)
  }

  private def tracedWall(outs: Seq[Outcome[Any]]): Double =
    outs.filter(_.traced).map(_.seconds).sum

  private def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  private def peakRss(): Unit = {
    val hwm = Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
    hwm.foreach(metric("spark.peak_rss_mb", _, "MB"))
  }

  private def setup(t: Double): Unit = metric("setup_s", t, "s")

  // -- functions layer: the two kernels, called directly ------------------

  private def kernels(texts: DataFrame, textCol: String): Unit = {
    val rows = texts.count().toDouble
    val embedded = texts.select(GraftFunctions.hashEmbed(col(textCol), 384).as("e"))
      .localCheckpoint(true)
    def nsPerRow(df: => DataFrame): Double = {
      df.write.format("noop").mode("overwrite").save() // warm
      val xs = (1 to 3).map { _ =>
        val t0 = now(); df.write.format("noop").mode("overwrite").save(); since(t0)
      }
      xs.sorted.apply(xs.size / 2) * 1e9 / rows
    }
    metric("functions.hash_embed_ns_per_row",
      nsPerRow(texts.select(GraftFunctions.hashEmbed(col(textCol), 384))), "ns")
    val q = typedLit(new HashingEmbedder().embedQuery("manage data systems"))
    metric("functions.cosine_ns_per_row",
      nsPerRow(embedded.select(GraftFunctions.cosineSim(col("e"), q))), "ns")
  }

  private def embedTextOf(df: DataFrame): DataFrame =
    df.select(concat_ws(". ", col("preferredLabel"), col("altLabels"),
      col("description")).as("text"))

  // -- ingest: the write path -------------------------------------------

  private def ingestOnce(csvDir: String, out: String): Unit = {
    val wh = span("sources.build")(EscoWarehouse.build(spark, csvDir))
    span("sources.save")(EscoWarehouse.save(wh, out))
    span("vector.persist_index")(
      new SemanticSearch(wh, new HashingEmbedder()).persistIndex(out))
    span("enrich.translate") {
      Translate.translateProperty(EscoWarehouse.load(spark, out).occupations,
        "prefLabel", new IdentityTranslator("he:"))
        .write.mode("overwrite").parquet(s"$out/occupations_translated")
    }
  }

  private def curateOnce(corpus: String, out: String): Unit = {
    val (curated, dropped) = span("curation.build")(
      Curation.curate(spark.read.parquet(corpus), "doc_id", "text"))
    span("curation.write") {
      curated.write.mode("overwrite").parquet(s"$out/curated")
      dropped.write.mode("overwrite").parquet(s"$out/dropped")
    }
  }

  private val tables = Seq("skills", "occupations", "isco_groups",
    "broader_skill", "broader_isco", "broader_occupation",
    "part_of_isco_group", "essential_for", "optional_for", "related_skill",
    "part_of_skill_group", "skills_indexed", "occupations_indexed")

  /** The write path: one ESCO ingest (CSVs to warehouse, index and
    * translated labels) and one curation of the document corpus (curated
    * and dropped written), as a batch run meets them: in a fresh session.
    * A traced run first ingests and curates once untraced, so that its
    * traced and untraced blocks compare warm ops with warm ops. */
  private def write(): Unit = {
    val start = startSession()
    val t0 = now()
    val corpus = s"$work/corpus.parquet"
    spark.read.schema("doc_id LONG, text STRING, source STRING")
      .json(opts("corpus")).write.mode("overwrite").parquet(corpus)
    val loadS = since(t0)
    diagnostics("corpus_load_s") = loadS
    setup(start + loadS)
    val out = s"$work/warehouse"
    val curated = s"$work/curated"
    val warmT = warm(if (trace) { ingestOnce(data, out); curateOnce(corpus, curated) })
    kinds = Seq("ingest", "curate")
    val (outs, wall) = measure(block = 2, minBlocks = 1) { (i, traced) =>
      if (i % 2 == 0) op("ingest", traced)(ingestOnce(data, out))
      else op("curate", traced)(curateOnce(corpus, curated))
    }
    window = wall
    if (trace) takeSnapshot()
    peakRss()
    // outputs: every table the ingest wrote, read back, and what curation
    // dropped
    val stored = tables.map(t => dirBytes(new File(s"$out/$t"))).sum.toDouble
    readingOutputs("write.outputs") {
      observed("counts") = tables.map(t => t -> spark.read.parquet(s"$out/$t").count()).toMap
      val translated = spark.read.parquet(s"$out/occupations_translated")
      val bad = translated.filter(col("preferredLabel_he").isNull ||
        !col("preferredLabel_he").startsWith("he:")).count()
      check("ingest.translated_labels", bad == 0, s"$bad occupations lack a translated label")
      val dropped = spark.read.parquet(s"$curated/dropped")
      observed("exact_duplicate_ids") = dropped.filter(col("drop_reason") === "exact_duplicate")
        .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
      observed("drop_reasons") = dropped.groupBy("drop_reason").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      observed("curated_rows") = spark.read.parquet(s"$curated/curated").count()
    }
    if (trace) {
      val by = summarizeTrace(tracedWall(outs))
      def per(kind: String) = outs.count(o => o.traced && o.kind == kind).max(1).toDouble
      val n = per("ingest")
      val csvRead = aggregate(by, "sources.build", "sources.save", "vector.persist_index")
      metric("sources.build_s", aggregate(by, "sources.build")._1 / n, "s")
      metric("sources.save_s", aggregate(by, "sources.save")._1 / n, "s")
      val src = aggregate(by, "sources.build", "sources.save")._3
      metric("sources.jobs", src.jobs / n, "count")
      metric("sources.shuffle_write_mb", src.shuffleWriteBytes / n / 1e6, "MB")
      metric("sources.csv_read_ratio",
        csvRead._3.inputBytes / n / opts("csv_bytes").toDouble, "ratio")
      metric("sources.stored_bytes_per_input_byte", stored / opts("csv_bytes").toDouble, "ratio")
      metric("vector.persist_index_s", aggregate(by, "vector.persist_index")._1 / n, "s")
      metric("enrich.translate_s", aggregate(by, "enrich.translate")._1 / n, "s")
      val m = per("curate")
      val cur = aggregate(by, "curation.build", "curation.write")._3
      metric("curation.build_s", aggregate(by, "curation.build")._1 / m, "s")
      metric("curation.write_s", aggregate(by, "curation.write")._1 / m, "s")
      metric("curation.jobs", cur.jobs / m, "count")
      metric("curation.shuffle_write_mb", cur.shuffleWriteBytes / m / 1e6, "MB")
      metric("curation.spill_mb", cur.spillBytes / m / 1e6, "MB")
      metric("curation.max_task_s", cur.maxTaskMs / 1e3, "s")
      kernels(embedTextOf(EscoWarehouse.load(spark, out).skills), "text")
      metric("session.start_s", diagnostics("session.start_s").asInstanceOf[Double], "s")
      metric("session.warm_s", warmT, "s")
    }
  }

  // -- read: search session, then the analysis catalog ----------------------

  /** Build the warehouse the read workload reads. `run.py` runs this in a
    * JVM of its own, once per input and engine source, before a measured
    * run. */
  private def prepare(): Unit = {
    startSession()
    EscoWarehouse.save(EscoWarehouse.build(spark, data), opts("warehouse"))
  }

  private def loadWarehouse(): (EscoWarehouse, Double) = {
    val t0 = now()
    val wh = EscoWarehouse.load(spark, opts("warehouse"))
    diagnostics("sources.load_s") = since(t0)
    (wh, since(t0))
  }

  /** The read path over one warehouse, as a session meets it from its
    * start: a search session for `seconds` (one client, closed loop), then
    * one pass over the analysis catalog. */
  private def read(): Unit = {
    val start = startSession()
    val queries = Source.fromFile(opts("queries"), "UTF-8").getLines().map { l =>
      val Array(o, t, th, lim, text) = l.split("\t", 5)
      Query(o, t, th.toDouble, lim.toInt, text)
    }.toVector
    val (wh, loadS) = loadWarehouse()
    val engine = new SemanticSearch(wh, new HashingEmbedder())
    def runQuery(q: Query): Array[Row] =
      if (q.op == "search")
        planThen("vector.search")(engine.search(q.text, q.typ, q.threshold, q.limit))(_.collect())
      else
        planThen("profile.search")(
          Profiles.profileSearch(wh, engine, q.text, q.typ, q.threshold, q.limit))(_.collect())
    setup(start + loadS)
    // a traced run warms up first, so that its traced and untraced blocks
    // compare warm ops with warm ops
    val warmT = warm(if (trace) queries.distinctBy(q => (q.op, q.typ)).foreach(runQuery))
    val sample = mutable.Map[Int, Array[Row]]()
    // blocks of 8 ops: twice a skill, an occupation and a both-types
    // search, then a profile search (occupation, then skill); at least
    // three blocks, so that each kind's median passes over the first,
    // cold op of the session
    val (outs, searchWall) = measure(block = 8, minBlocks = 3) { (i, traced) =>
      val q = queries(i % queries.size)
      val o = op(s"${q.op}.${q.typ}", traced)(runQuery(q))
      if (i < queries.size) o.value.foreach(rows => sample(i) = rows)
      o
    }
    val verbs = catalog(wh).filterNot(v => onDemand.contains(v._1))
    val (verbOuts, verbWall, buildS) = analytics(verbs)
    window = searchWall + verbWall
    kinds = queries.map(q => s"${q.op}.${q.typ}").distinct.sorted ++ verbs.map(_._1)
    if (trace) takeSnapshot()
    diagnostics("ops") = outs.groupBy(_.kind).map { case (k, v) => k -> v.size }
    verbOuts.foreach(o => diagnostics(s"${o.kind}.s") = o.seconds)
    peakRss()
    readingOutputs("read.outputs") {
      checkSearch(wh, queries, sample.toMap)
      observeAnalytics(verbOuts)
    }
    if (trace) {
      val by = summarizeTrace(tracedWall(outs ++ verbOuts))
      val tracedOps = outs.filter(o => o.traced && !o.failed)
      def of(op: String) = tracedOps.filter(_.kind.startsWith(op + "."))
      def rows(op: String) = of(op).flatMap(_.value).map(_.length).sum
      val searches = of("search").size.max(1).toDouble
      val profiles = of("profile").size.max(1).toDouble
      val vPlan = aggregate(by, "vector.search_plan")
      val vExec = aggregate(by, "vector.search_exec")
      metric("vector.search_plan_ms", vPlan._1 / vPlan._2.max(1) * 1e3, "ms")
      metric("vector.search_exec_ms", vExec._1 / vExec._2.max(1) * 1e3, "ms")
      val vc = aggregate(by, "vector.search_plan", "vector.search_exec")._3
      metric("vector.jobs_per_query", vc.jobs / searches, "count")
      metric("vector.tasks_per_query", vc.tasks / searches, "count")
      metric("vector.rows_read_per_hit", vc.inputRecords.toDouble / rows("search").max(1), "ratio")
      val pPlan = aggregate(by, "profile.search_plan")
      val pExec = aggregate(by, "profile.search_exec")
      metric("profile.plan_ms", pPlan._1 / pPlan._2.max(1) * 1e3, "ms")
      metric("profile.exec_ms", pExec._1 / pExec._2.max(1) * 1e3, "ms")
      val pc = aggregate(by, "profile.search_plan", "profile.search_exec")._3
      metric("profile.jobs_per_query", pc.jobs / profiles, "count")
      metric("profile.shuffle_mb_per_query", pc.shuffleWriteBytes / profiles / 1e6, "MB")
      metric("profile.edge_rows_read_per_anchor", pc.inputRecords.toDouble / rows("profile").max(1), "ratio")
      analyticsMetrics(by, verbOuts, buildS)
      metric("sources.load_s", loadS, "s")
      kernels(embedTextOf(wh.skills.unionByName(wh.occupations, allowMissingColumns = true)), "text")
      metric("session.start_s", diagnostics("session.start_s").asInstanceOf[Double], "s")
      metric("session.warm_s", warmT, "s")
    }
  }

  /** Sampled search hits against a driver-side brute force (the same
    * embedder's `embedQuery` and the cosine the engine computes), and
    * sampled profiles against the generator's adjacency. */
  private def checkSearch(wh: EscoWarehouse, queries: Vector[Query],
      sample: Map[Int, Array[Row]]): Unit = {
    val emb = new HashingEmbedder()
    def corpus(df: DataFrame, typ: String) =
      df.select(col("conceptUri"), concat_ws(". ", col("preferredLabel"),
        col("altLabels"), col("description"))).collect().map { r =>
        (r.getString(0), typ, emb.embedQuery(r.getString(1)).toArray)
      }
    val skills = corpus(wh.skills, "Skill")
    val occs = corpus(wh.occupations, "Occupation")
    def cosine(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
    }
    val adj = Adjacency.load(data)
    var searched, profiled, mismatches = 0
    val details = mutable.ArrayBuffer[String]()
    val perType = opts("check_per_type").toInt
    for ((i, rows) <- sample.toSeq.sortBy(_._1)) {
      val q = queries(i)
      val n = if (q.op == "search") searched else profiled
      if (n < perType) {
        if (q.op == "search") searched += 1 else profiled += 1
        val qv = emb.embedQuery(q.text).toArray
        val pool = q.typ match {
          case "skill" => skills
          case "occupation" => occs
          case _ => skills ++ occs
        }
        val brute = pool.map { case (u, _, v) => (u, cosine(v, qv)) }
          .filter(_._2 > q.threshold)
          .sortBy { case (u, s) => (-s, u) }.take(q.limit).toSeq
        val got = rows.map(r => (r.getAs[String]("uri"), r.getAs[Double]("score"))).toSeq
        val ordered = got.map(_._2).zip(got.drop(1).map(_._2)).forall { case (a, b) => a >= b }
        val ok = got.map(_._1) == brute.map(_._1) &&
          got.zip(brute).forall { case ((_, a), (_, b)) => math.abs(a - b) <= 1e-9 } &&
          got.forall(_._2 > q.threshold) && got.size <= q.limit && ordered
        if (!ok) {
          mismatches += 1
          if (details.size < 3) details += s"op $i '${q.text}' ${q.typ}: got ${got.take(3)} want ${brute.take(3)}"
        }
        if (q.op == "profile") rows.foreach { r =>
          val uri = r.getAs[String]("uri")
          val want = adj.profile(uri, q.typ)
          want.foreach { case (c, labels) =>
            val have = r.getAs[scala.collection.Seq[String]](c).toSeq
            if (have != labels) {
              mismatches += 1
              if (details.size < 3) details += s"profile $uri $c: got ${have.take(5)} want ${labels.take(5)}"
            }
          }
        }
      }
    }
    diagnostics("checked_searches") = searched
    diagnostics("checked_profiles") = profiled
    check("search.brute_force_and_adjacency", mismatches == 0 && searched > 0 && profiled > 0,
      s"$mismatches mismatches (searched $searched, profiled $profiled): ${details.mkString("; ")}")
  }

  // -- analytics -----------------------------------------------------------

  /** The catalog verbs as the CLI's `analyze` calls them, with default
    * arguments, in a fixed order: the relational verbs, then the iterative
    * graph verbs. Each builds the frame to act on, or the verb's whole
    * answer when it has no frame. */
  private def catalog(wh: EscoWarehouse): Seq[(String, () => Either[DataFrame, Any])] = {
    lazy val graphSession = new EscoAnalytics.GraphSession(wh)
    val (from, to) = (opts("path_from"), opts("path_to"))
    Seq(
      "top_essential_skills" -> (() => Left(EscoAnalytics.topEssentialSkills(wh))),
      "skill_cooccurrence" -> (() => Left(EscoAnalytics.skillCooccurrence(wh))),
      "occupation_cooccurrence" -> (() => Left(EscoAnalytics.occupationCooccurrence(wh))),
      "transferable_skills" -> (() => Left(EscoAnalytics.transferableSkills(wh))),
      "skill_depths" -> (() => Left(EscoAnalytics.skillHierarchyDepths(wh))),
      "isco_depths" -> (() => Left(EscoAnalytics.iscoHierarchyDepths(wh))),
      "shortest_path" -> (() => Right(EscoAnalytics.shortestPathNodes(wh, from, to))),
      "pagerank" -> (() => Left(EscoAnalytics.topPageRank(wh))),
      "betweenness" -> (() => Left(EscoAnalytics.topBetweenness(wh, session = Some(graphSession)))),
      "triangles" -> (() => Left(EscoAnalytics.topTriangles(wh, session = Some(graphSession)))),
      "louvain" -> (() => Left(EscoAnalytics.skillCommunitiesLouvain(wh))))
  }

  private val relational = Seq("top_essential_skills", "skill_cooccurrence",
    "occupation_cooccurrence", "transferable_skills")

  /** The verbs the read workload leaves out: `betweenness` alone takes a
    * fifth of a read run, which the benchmark's time budget cannot hold,
    * and `louvain` misses its deadline on the 1x warehouse (see
    * CHANGES.md). */
  private val onDemand = Seq("betweenness", "louvain")

  /** One pass over `verbs`, each an op; returns the outcomes, the pass's
    * wall time and each verb's driver-side build time. A traced run
    * traces the pass: it warms the relational verbs up first, and runs
    * each of them untraced right before its traced run, so that the
    * two compare as the tracing overhead. */
  private def analytics(verbs: Seq[(String, () => Either[DataFrame, Any])])
      : (Seq[Outcome[Any]], Double, collection.Map[String, Double]) = {
    val buildS = scala.collection.concurrent.TrieMap[String, Double]()
    def run(name: String, build: () => Either[DataFrame, Any], traced: Boolean): Outcome[Any] = {
      listen(traced)
      op(name, traced) {
        span(s"analytics.$name") {
          val b0 = now()
          val built = span(s"analytics.${name}_build") {
            val b = build()
            b.left.foreach(_.queryExecution.executedPlan)
            b
          }
          if (traced) buildS(name) = since(b0)
          built match {
            // louvain answers every skill: an unbounded frame
            case Left(df) if name == "louvain" =>
              df.write.format("noop").mode("overwrite").save(); Seq.empty[Row]
            case Left(df) => df.collect().toSeq
            case Right(v) => v
          }
        }
      }
    }
    val twins = if (trace) verbs.filter(v => relational.contains(v._1)) else Nil
    twins.foreach { case (n, b) => run(n, b, traced = false) }
    val t0 = now()
    val outs = verbs.flatMap { case (n, b) =>
      (if (twins.exists(_._1 == n)) Seq(run(n, b, traced = false)) else Nil) :+ run(n, b, trace)
    }
    val wall = since(t0)
    keepSamples(outs)
    (outs.filter(_.traced == trace), wall, buildS)
  }

  private def observeAnalytics(outcomes: Seq[Outcome[Any]]): Unit = outcomes.foreach {
    case Outcome("top_essential_skills", _, Some(rows), _) =>
      observed("top_essential_skills") = rows.asInstanceOf[Seq[Row]]
        .map(r => Seq(r.getString(0), r.getString(1), r.getLong(2)))
    case Outcome(n @ ("skill_depths" | "isco_depths"), _, Some(rows), _) =>
      observed(n) = rows.asInstanceOf[Seq[Row]]
        .map(r => Seq(r.getInt(0).toLong, r.getLong(1), r.getLong(2)))
    case Outcome("shortest_path", _, Some(p), _) =>
      observed("shortest_path_length") = p.asInstanceOf[Seq[String]].size - 1
    case _ =>
  }

  private def analyticsMetrics(by: Map[String, (Double, Int, Counters)],
      outcomes: Seq[Outcome[Any]], buildS: collection.Map[String, Double]): Unit =
    outcomes.foreach { o =>
      val n = o.kind
      metric(s"analytics.${n}_s", o.seconds, "s")
      metric(s"analytics.${n}_build_s", if (o.failed) o.seconds else buildS(n), "s")
      metric(s"analytics.${n}_jobs",
        aggregate(by, s"analytics.$n", s"analytics.${n}_build")._3.jobs.toDouble, "count")
    }

  /** The verbs the read workload leaves out, at their defaults, in
    * catalog order. Run on demand. */
  private def heavy(): Unit = {
    val start = startSession()
    val (wh, loadS) = loadWarehouse()
    setup(start + loadS)
    val verbs = catalog(wh).filter(v => onDemand.contains(v._1))
    kinds = verbs.map(_._1)
    val (outs, wall, _) = analytics(verbs)
    window = wall
    outs.foreach(o => diagnostics(s"${o.kind}.s") = o.seconds)
  }
}

/** The generator's surviving edges and labels, as the expected profile
  * lists of an anchor. */
final class Adjacency(
    label: Map[String, String],
    edges: Map[String, Seq[(String, String)]]) {
  private def labels(uris: Seq[String]): Seq[String] = uris.map(label).distinct.sorted
  private def out(rel: String, u: String) =
    edges.getOrElse(s"$rel>$u", Nil).map(_._2)
  private def in(rel: String, u: String) =
    edges.getOrElse(s"$rel<$u", Nil).map(_._1)

  def profile(uri: String, typ: String): Map[String, Seq[String]] =
    if (typ == "skill") Map(
      "essential_for_occupations" -> labels(out("essential", uri)),
      "optional_for_occupations" -> labels(out("optional", uri)),
      "related_skills" -> labels(out("related", uri) ++ in("related", uri)),
      "broader_skills" -> labels(in("broader", uri)),
      "narrower_skills" -> labels(out("broader", uri)))
    else Map(
      "essential_skills" -> labels(in("essential", uri)),
      "optional_skills" -> labels(in("optional", uri)),
      "isco_groups" -> labels(out("isco", uri)),
      "broader_occupations" -> Nil,
      "narrower_occupations" -> Nil)
}

object Adjacency {
  def load(dir: String): Adjacency = {
    val label = Source.fromFile(s"$dir/labels.tsv", "UTF-8").getLines()
      .map { l => val Array(u, t) = l.split("\t", 2); u -> t }.toMap
    val edges = mutable.Map[String, mutable.ArrayBuffer[(String, String)]]()
    Source.fromFile(s"$dir/adjacency.tsv", "UTF-8").getLines().foreach { l =>
      val Array(rel, a, b) = l.split("\t", 3)
      edges.getOrElseUpdate(s"$rel>$a", mutable.ArrayBuffer()) += ((a, b))
      edges.getOrElseUpdate(s"$rel<$b", mutable.ArrayBuffer()) += ((a, b))
    }
    new Adjacency(label, edges.view.mapValues(_.toSeq).toMap)
  }
}
