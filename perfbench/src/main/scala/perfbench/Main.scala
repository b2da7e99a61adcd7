package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Counts checked outcomes. A failed or wrong operation is one failure.
  * With `wrong` set, the first expected search answer is deliberately
  * corrupted, which the self-test uses to prove failures are counted.
  */
final class Checks(wrong: Boolean) {
  var attempted = 0
  var failed = 0
  val failures = ArrayBuffer.empty[String]
  private var tampered = !wrong

  def apply(what: => String, ok: => Boolean): Unit = {
    attempted += 1
    val good = try ok catch { case NonFatal(e) => failures += s"$what: $e"; false }
    if (!good) { failed += 1; if (failures.size < 50) failures += what }
  }

  def fail(what: String): Unit = apply(what, false)

  def tamper[T](expected: T)(f: T => T): T =
    if (tampered) expected else { tampered = true; f(expected) }
}

/** One benchmark run: set up `sizes.setupReps` times, warm up, run the
  * closed loop for `seconds`, check every answer, and compute metrics.
  * With `trace` on, the first half of the window runs the program's own
  * calls under a Spark listener and the second half the layer split.
  */
final class Runner(spark: SparkSession, w: Workload, work: Path, seconds: Double,
                   trace: Boolean, wrong: Boolean) {
  import Runner._
  import spark.implicits._

  val dim = 1536
  val tracer: Option[Tracer] = if (trace) Some(new Tracer) else None
  val counts: Option[SparkCounts] =
    if (trace) Some(new SparkCounts).map { c => spark.sparkContext.addSparkListener(c); c }
    else None
  val log = new Service.Log
  val checks = new Checks(wrong)
  private val inputChunks = scala.collection.mutable.Map.empty[Int, Int]
  private val queries = ArrayBuffer.empty[(Query, Seq[Hit], String)]
  private val batches = ArrayBuffer.empty[(Batch, Map[Int, Seq[Hit]])]
  private val setupS = ArrayBuffer.empty[Double]
  private var windowS = 0.0

  private def exec(svc: Service, step: Step): Unit =
    try step match {
      case l: Load =>
        val n = svc.load(l.dir.toString)
        inputChunks(log.ops.last.id) = l.chunks
        checks(s"load ${l.dir.getFileName}: stored $n chunks, expected ${l.novel.size}",
          n == l.novel.size)
      case a: Add =>
        val m = svc.add(a.text)
        inputChunks(log.ops.last.id) = Gen.chunksOf(a.text).size
        val want = if (a.novel) "Document added." else "Document already exists."
        checks(s"add: got '$m', expected '$want'", m == want)
      case q: Query =>
        val (hits, answer) = svc.search(q.text, q.k)
        queries += ((q, hits, answer))
      case b: Batch => batches += ((b, svc.searchAll(b.texts, b.k)))
    } catch {
      case NonFatal(e) => checks.fail(s"${step.getClass.getSimpleName} failed: $e")
    }

  /** Wall seconds of each part of the run, for sizing the workloads. */
  val phaseS = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private def timed[T](phase: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally phaseS(phase) = (System.nanoTime() - t0) / 1e9
  }

  def run(): Unit = {
    val svc = timed("setup")(setup())
    try {
      log.phase = "warmup"
      // WarmUpSteps untimed steps of the window's own mix, to a round
      // boundary: the window then starts with every plan shape compiled
      // and the JIT past its steepest part
      timed("warmup") {
        var n = 0
        do { exec(svc, w.next()); n += 1 } while (n < WarmUpSteps || !w.atBoundary)
      }
      log.phase = "run"
      val t0 = System.nanoTime()
      val end = t0 + (seconds * 1e9).toLong
      val mid = t0 + (seconds * 0.5e9).toLong
      def reads = log.ops.count(o => o.phase == "run" && o.kind == w.readKind)
      while (System.nanoTime() < end || reads == 0 || !w.atBoundary) {
        svc.setSplit(trace && System.nanoTime() >= mid)
        exec(svc, w.next())
      }
      windowS = (System.nanoTime() - t0) / 1e9
      log.phase = "extra"
      svc.setSplit(false)
      timed("extra")(w.extra().foreach(exec(svc, _)))
      if (trace) timed("cover")(cover(svc))
      timed("verify")(verify(svc))
      e2e = endToEnd(svc, split = false)
      infos = info(split = false)
      if (trace) {
        tracedE2e = endToEnd(svc, split = true)
        layerMetrics = layers(svc)
      }
    } finally svc.close()
  }

  var e2e: Seq[Metric] = Nil
  var infos: Seq[Metric] = Nil
  var tracedE2e: Seq[Metric] = Nil
  var layerMetrics: Seq[Metric] = Nil

  /** Fresh store, server, corpus load and index build, `setupReps` times;
    * the last one serves the window. In the traced run the last set-up
    * goes through the layer split. A first load of the corpus into a
    * throwaway store pays the JVM's and Spark's one-time compilation, so
    * the timed set-ups all run compiled code.
    */
  private def setup(): Service = {
    val corpus = w.setup
    val reps = w.sizes.setupReps
    log.phase = "jit"
    var svc = new Service(spark, work.resolve("store-jit").toString, dim, tracer, log)
    exec(svc, corpus)
    svc.buildIndex()
    log.phase = "setup"
    for (rep <- 0 until reps) {
      svc.close()
      deleteTree(Paths.get(svc.store))
      val t0 = System.nanoTime()
      svc = new Service(spark, work.resolve(s"store-$rep").toString, dim, tracer, log)
      svc.setSplit(rep == reps - 1)
      exec(svc, corpus)
      svc.buildIndex()
      setupS += (System.nanoTime() - t0) / 1e9
    }
    svc
  }

  /** The traced run reports every layer for every workload: operation
    * kinds the workload does not run itself get one plain and one split
    * call after the window.
    */
  private def cover(svc: Service): Unit =
    for (split <- Seq(false, true)) {
      svc.setSplit(split)
      def has(kind: String) = log.ops.exists(o => o.kind == kind && o.split == split)
      if (!has("search")) exec(svc, w.coverQuery())
      if (!has("search_all")) exec(svc, w.coverBatch())
      if (!has("add")) w.coverAdds().foreach(exec(svc, _))
      if (!has("load")) exec(svc, w.coverLoad())
    }

  private def verify(svc: Service): Unit = {
    val rows = svc.engine.documents().select("doc_id", "content", "embedding")
      .as[(Long, String, Array[Float])].collect()
    val ids = rows.map(_._1).sorted
    checks(s"store doc_ids are not 1..${ids.length}", ids.sameElements(1L to ids.length.toLong))
    checks(s"store holds ${rows.length} chunks, expected ${w.model.size}",
      rows.length == w.model.size && rows.map(_._2).toSet == w.model.toSet)
    val content = rows.map(r => r._1 -> r._2).toMap
    val oracle = new Oracle(rows.map(_._1), rows.map(_._3))
    // every quoted query plus the first 8 others of each batch
    val sampled = batches.map { case (b, res) =>
      val idx = (b.quoted.keys.toSeq ++ b.texts.indices.filterNot(b.quoted.contains).take(8)).sorted
      (b, res, idx)
    }
    val vecs = Oracle.embed(spark,
      queries.map(_._1.text).toSeq ++ sampled.flatMap { case (b, _, idx) => idx.map(b.texts) }, dim)
    /** Why `hits` is not the right answer, or "" when it is. */
    def wrongness(text: String, k: Int, visible: Int, quoted: Option[String], hits: Seq[Hit]) = {
      val want = checks.tamper(oracle.topK(vecs(text), k, visible.toLong))(x =>
        x.updated(0, (x.head._1 + 1, x.head._2)))
      val got = hits.map(h => (h.docId, h.score))
      if (got.map(_._1) != want.map(_._1) ||
          got.zip(want).exists { case ((_, a), (_, b)) => math.abs(a - b) > 1e-9 })
        s"got $got, brute force gives $want"
      else if (!hits.forall(h => content.get(h.docId).contains(h.content))) "content is not the stored one"
      else if (!quoted.forall(q => hits.headOption.exists(_.content == q))) "quoted chunk is not rank 1"
      else ""
    }
    // /search returns its k hits in no particular order; rank them by
    // score, ties on id, the order Search.topK defines
    queries.foreach { case (q, unranked, answer) =>
      val hits = unranked.sortBy(h => (-h.score, h.docId))
      val why = wrongness(q.text, q.k, q.visible, q.quoted, hits) match {
        case "" if answer != hits.headOption.map(_.content).getOrElse("") => "answer is not the top hit"
        case w => w
      }
      checks(s"search '${q.text.take(40)}': $why", why.isEmpty)
    }
    sampled.foreach { case (b, res, idx) =>
      val why = if (res.size != b.texts.size) s"${res.size} of ${b.texts.size} queries answered"
        else idx.iterator.map(i => wrongness(b.texts(i), b.k, b.visible, b.quoted.get(i),
          res.getOrElse(i, Nil))).find(_.nonEmpty).getOrElse("")
      checks(s"searchAll of ${b.texts.size} queries: $why", why.isEmpty)
    }
  }

  // ---- metrics ---------------------------------------------------------

  private def storeFiles(svc: Service): Seq[Path] = {
    val root = Paths.get(svc.store)
    if (!Files.exists(root)) Nil
    else Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).toList
  }

  /** Loads of the window, or of the set-up for workloads that load only there. */
  private def loadsOf(run: Seq[Op]): Seq[Op] = {
    val l = run.filter(_.kind == "load")
    if (l.nonEmpty) l else log.ops.filter(o => o.phase == "setup" && o.kind == "load").toSeq
  }

  /** End-to-end metrics over the window's plain (or, traced, split) ops. */
  def endToEnd(svc: Service, split: Boolean): Seq[Metric] = {
    val run = log.ops.filter(o => o.phase == "run" && o.split == split).toSeq
    val reads = run.filter(_.kind == w.readKind)
    val perRead = if (w.readKind == "search_all") w.sizes.knnQueries else 1
    val textBytes = w.model.map(_.getBytes("UTF-8").length.toLong).sum
    Seq(
      Metric("setup_s", median(setupS.toSeq), "s", setupS.size),
      Metric("search_p50_ms", median(reads.map(_.ms)), "ms", reads.size),
      Metric("knn_queries_per_s", reads.size * perRead / (reads.map(_.ms).sum / 1e3), "1/s", reads.size),
      Metric("requests_per_s", run.size / (run.map(_.ms).sum / 1e3), "1/s", run.size),
      Metric("store_bytes_per_input_byte",
        storeFiles(svc).map(Files.size).sum.toDouble / textBytes, "ratio", 1),
      Metric("peak_rss_mb", peakRssMb, "MiB", 1))
  }

  /** Metrics that rest on too few operations per run to gate (loads,
    * adds, the tail), or that a workload lacks; printed only.
    */
  def info(split: Boolean): Seq[Metric] = {
    val run = log.ops.filter(o => o.phase == "run" && o.split == split).toSeq
    val reads = run.filter(_.kind == w.readKind)
    val adds = run.filter(_.kind == "add")
    val loads = loadsOf(run)
    Seq(Metric("search_p90_ms", quantile(reads.map(_.ms), 0.9), "ms", reads.size),
      Metric("ingest_chunks_per_s", median(loads.map(o => inputChunks(o.id) / (o.ms / 1e3))),
        "1/s", loads.size)) ++
      (if (adds.isEmpty) Nil else Seq(Metric("add_p50_ms", median(adds.map(_.ms)), "ms", adds.size))) ++
      Seq(Metric("ops_failed_frac", checks.failed.toDouble / math.max(1, checks.attempted), "ratio",
        checks.attempted),
        Metric("window_s", windowS, "s", 1),
        Metric("store_chunks", w.model.size.toDouble, "count", 1))
  }

  /** Per-layer metrics of the traced run (see BENCHMARK.json). */
  def layers(svc: Service): Seq[Metric] = {
    val spans = tracer.get.spans
    val byReq = spans.groupBy(_.req)
    val children = spans.groupBy(_.parent)
    def ops(kind: String, split: Boolean) = {
      val all = log.ops.filter(o => o.kind == kind && o.split == split && o.phase != "jit").toSeq
      val run = all.filter(_.phase == "run")
      if (run.nonEmpty) run else all
    }
    def named(kinds: Seq[String], name: String): Seq[Span] =
      kinds.flatMap(k => ops(k, split = true)).flatMap(o => byReq.getOrElse(o.id, Nil))
        .filter(_.name == name)
    def med(kinds: Seq[String], name: String) = median(named(kinds, name).map(_.ms))
    def childMs(s: Span, names: Set[String] = Set.empty) =
      children.getOrElse(s.id, Nil).filter(c => names.isEmpty || names(c.name)).map(_.ms).sum
    def share(name: String, kind: String, of: Set[String] = Set.empty) =
      median(named(Seq(kind), name).map(s => childMs(s, of) / s.ms))
    def rate(kinds: Seq[String], name: String) = {
      val ss = named(kinds, name)
      ss.map(_.n).sum / (ss.map(_.ms).sum / 1e3)
    }
    val search = Seq("search")
    val all = Seq("search_all")
    val ingest = Seq("load", "add")
    val anyKind = log.ops.map(_.kind).distinct.toSeq
    val requests = ops("search", split = true)
    val selfMs = requests.flatMap { o =>
      byReq.getOrElse(o.id, Nil).find(_.name == "op.search")
        .map(root => o.ms - childMs(root, Set("engine.search", "engine.answer")))
    }
    val c = counts.get
    c.settle()
    def spark(kind: String): Seq[Metric] = {
      val os = ops(kind, split = false)
      val cs = os.map(o => (o, c.during(o.startMs, o.endMs)))
      def m(name: String, unit: String, f: ((Op, OpCounts)) => Double) =
        Metric(s"spark.$kind.$name", median(cs.map(f)), unit, cs.size)
      Seq(m("jobs", "count", _._2.jobs), m("stages", "count", _._2.stages),
        m("tasks", "count", _._2.tasks), m("task_s", "s", _._2.taskS),
        m("max_task_ms", "ms", _._2.maxTaskMs), m("shuffle_bytes", "bytes", _._2.shuffleBytes.toDouble),
        m("spill_bytes", "bytes", _._2.spillBytes.toDouble),
        m("sql_executions", "count", _._2.sqlExecutions),
        m("in_job_ms", "ms", _._2.inJobMs), m("driver_ms", "ms", x => x._1.ms - x._2.inJobMs))
    }
    val chunkSpans = named(ingest, "chunker.chunk")
    val docsIn = named(Seq("load"), "sources.textdir").map(_.n).sum + ops("add", split = true).size
    Seq(
      Metric("server.request_ms", median(requests.map(_.ms)), "ms", requests.size),
      Metric("server.self_ms", median(selfMs), "ms", selfMs.size),
      Metric("server.jobs_per_request",
        median(ops("search", split = false).map(o => c.during(o.startMs, o.endMs).jobs.toDouble)),
        "count", ops("search", split = false).size),
      Metric("engine.documents_ms", med(search, "engine.documents"), "ms", named(search, "engine.documents").size),
      Metric("search.enrich_ms", med(search, "search.enrich"), "ms", named(search, "search.enrich").size),
      Metric("search.topk_ms", med(search, "search.topk"), "ms", named(search, "search.topk").size),
      Metric("embedder.query_ms", med(search, "embedder.query"), "ms", named(search, "embedder.query").size),
      Metric("trace.search_layer_share", share("engine.search", "search"), "ratio",
        named(search, "engine.search").size),
      Metric("engine.search_all_ms", med(all, "engine.search_all"), "ms", named(all, "engine.search_all").size),
      Metric("search.score_all_ms", med(all, "search.score_all"), "ms", named(all, "search.score_all").size),
      Metric("search.score_all_share", share("engine.search_all", "search_all", Set("search.score_all")),
        "ratio", named(all, "engine.search_all").size),
      Metric("search.score_pairs_per_s", rate(all, "search.score_all"), "1/s",
        named(all, "search.score_all").size),
      Metric("search.topk_per_query_ms", med(all, "search.topk_per_query"), "ms",
        named(all, "search.topk_per_query").size),
      Metric("engine.content_join_ms", med(all, "engine.content_join"), "ms",
        named(all, "engine.content_join").size),
      Metric("trace.search_all_layer_share", share("engine.search_all", "search_all"), "ratio",
        named(all, "engine.search_all").size),
      Metric("engine.index_build_ms", med(anyKind, "engine.index"), "ms", named(anyKind, "engine.index").size),
      Metric("sources.textdir_ms", med(Seq("load"), "sources.textdir"), "ms",
        named(Seq("load"), "sources.textdir").size),
      Metric("chunker.chunks_per_s", rate(ingest, "chunker.chunk"), "1/s", chunkSpans.size),
      Metric("chunker.chunks_per_doc", chunkSpans.map(_.n).sum.toDouble / docsIn, "ratio", chunkSpans.size),
      Metric("embedder.chunks_per_s", rate(ingest, "embedder.embed"), "1/s",
        named(ingest, "embedder.embed").size),
      Metric("ingest.dedup_ms", med(ingest, "ingest.dedup"), "ms", named(ingest, "ingest.dedup").size),
      Metric("ingest.novel_ratio",
        named(ingest, "ingest.dedup").map(_.n).sum.toDouble / chunkSpans.map(_.n).sum, "ratio",
        chunkSpans.size),
      Metric("ingest.assign_ids_ms", med(ingest, "ingest.assign_ids"), "ms",
        named(ingest, "ingest.assign_ids").size),
      Metric("ingest.write_ms", med(ingest, "ingest.write"), "ms", named(ingest, "ingest.write").size),
      Metric("ingest.store_files",
        storeFiles(svc).count(_.getFileName.toString.endsWith(".parquet")).toDouble, "count", 1)) ++
      Seq("search", "load", "add", "search_all").flatMap(spark)
  }
}

final case class Metric(name: String, value: Double, unit: String, n: Int)

object Runner {
  val WarmUpSteps = 2

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

  /** VmHWM: the process's peak resident set, in MiB. */
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
}

/** Entry point, launched by perfbench/run.py:
  *
  * {{{
  * perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                --work DIR --out FILE [--scale full|tiny] [--inject-wrong]
  * perfbench.Main --workload W --seed N --work DIR --gen-only
  * }}}
  *
  * Writes the run's metrics, checks, operations and spans to FILE as
  * JSON. `--gen-only` writes the workload's inputs under DIR and prints
  * their SHA-256 instead of running anything.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val flags = Set("--inject-wrong", "--gen-only")
    val opts = scala.collection.mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      if (flags(args(i))) { opts(args(i)) = "1"; i += 1 }
      else { opts(args(i)) = args(i + 1); i += 2 }
    }
    val work = Paths.get(opts("--work"))
    val sizes = if (opts.getOrElse("--scale", "full") == "tiny") Sizes.tiny else Sizes.full
    val w = Workload(opts("--workload"), opts("--seed").toLong, sizes, work.resolve("inputs"))
    if (opts.contains("--gen-only")) println(inputDigest(w, work.resolve("inputs")))
    else {
      val spark = session(work)
      val jvmToSession = (System.currentTimeMillis() -
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
      try {
        val trace = opts("--trace") == "1"
        val r = new Runner(spark, w, work, opts("--seconds").toDouble, trace,
          opts.contains("--inject-wrong"))
        r.phaseS("jvm_and_session") = jvmToSession
        r.run()
        write(Paths.get(opts("--out")), report(spark, w, r, trace))
      } finally spark.stop()
    }
  }

  /** The repository's own deployment settings (graft.Bench, graft.Verify)
    * on local[nproc], with every scratch directory inside the run's `work`.
    */
  def session(work: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder().master(s"local[$cpus]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** SHA-256 over the set-up corpus and the first 60 window steps. */
  def inputDigest(w: Workload, inputs: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def add(s: String): Unit = md.update(s.getBytes("UTF-8"))
    val steps = Seq(w.setup) ++ Seq.fill(60)(w.next()) ++ w.extra()
    steps.foreach {
      case l: Load => add(s"load ${inputs.relativize(l.dir)} ${l.chunks} ${l.novel.size}\n")
      case other => add(other.toString + "\n")
    }
    Files.walk(inputs).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      .sortBy(_.toString).foreach { f =>
        add(inputs.relativize(f).toString + "\n"); md.update(Files.readAllBytes(f))
      }
    md.digest().map("%02x".format(_)).mkString
  }

  private def jmap(kv: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  /** Metrics as JSON; `gated` ones must all have been measured. */
  private def metricMap(ms: Seq[Metric], gated: Boolean): java.util.Map[String, Any] = {
    val bad = ms.filter(m => m.value.isNaN || m.value.isInfinite)
    require(!gated || bad.isEmpty, s"metrics without samples: ${bad.map(_.name).mkString(", ")}")
    jmap(ms.map(m => m.name -> jmap(
      "value" -> (if (bad.contains(m)) null else m.value), "unit" -> m.unit, "n" -> m.n)): _*)
  }

  def report(spark: SparkSession, w: Workload, r: Runner, trace: Boolean): java.util.Map[String, Any] =
    jmap(
      "correct" -> (r.checks.failed == 0),
      "attempted" -> r.checks.attempted,
      "failed" -> r.checks.failed,
      "metrics" -> metricMap(if (trace) r.layerMetrics else r.e2e, gated = true),
      "info" -> metricMap(r.infos, gated = false),
      "traced_end_to_end" -> metricMap(r.tracedE2e, gated = false),
      "env" -> jmap(
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
        "spark" -> spark.version,
        "scala" -> scala.util.Properties.versionNumberString,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20)),
      "sizes" -> w.sizes.toString,
      "phase_s" -> jmap(r.phaseS.toSeq: _*),
      "failures" -> r.checks.failures.asJava,
      "ops" -> r.log.ops.map { o =>
        val c = r.counts.map(_.during(o.startMs, o.endMs))
        jmap("id" -> o.id, "kind" -> o.kind, "phase" -> o.phase, "split" -> o.split, "ms" -> o.ms,
          "spark" -> c.map(c => jmap("jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
            "task_s" -> c.taskS, "max_task_ms" -> c.maxTaskMs, "shuffle_bytes" -> c.shuffleBytes,
            "spill_bytes" -> c.spillBytes, "sql_executions" -> c.sqlExecutions,
            "in_job_ms" -> c.inJobMs)).orNull)
      }.asJava,
      "spans" -> r.tracer.map(_.spans.map(s => jmap("id" -> s.id, "parent" -> s.parent,
        "req" -> s.req, "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "n" -> s.n)).asJava).orNull)

  private def write(out: Path, m: java.util.Map[String, Any]): Unit =
    new com.fasterxml.jackson.databind.ObjectMapper().writeValue(out.toFile, m)
}
