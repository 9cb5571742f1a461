package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.corpus.{Page, PagesCorpus}
import graft.index.IndexBuilder
import graft.query.{Bm25Query, Hit, RegexQuery}
import graft.streaming.IncrementalIndex

/** One benchmark run: one workload, one seed, one JVM.
  *
  *   perfbench.Main --workload serve|refresh --seed N --seconds S
  *                  --trace 0|1 --dir RUN_DIR
  *
  * Everything it writes goes under RUN_DIR. The last stdout line is the
  * JSON result: end-to-end metrics with --trace 0, per-layer metrics with
  * --trace 1.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val workload = a("--workload")
    require(Set("serve", "refresh")(workload), s"unknown workload $workload")
    val dir = a("--dir")
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.local.dir", s"$dir/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Run.note("spark session started")
    val run = new Run(spark, dir, a("--seed").toLong, a("--seconds").toInt,
      a("--trace") == "1")
    workload match {
      case "serve" => run.serve()
      case "refresh" => run.refresh()
    }
    val out = run.result()
    spark.stop()
    Run.note("spark session stopped")
    println(out)
  }
}

final class Run(spark: SparkSession, dir: String, seed: Long, seconds: Int,
    trace: Boolean) {
  import Run._

  private val rec: Option[SpanRecorder] =
    if (!trace) None
    else {
      val r = new SpanRecorder(tableOf)
      spark.sparkContext.addSparkListener(r)
      Some(r)
    }
  private def span[T](name: String)(f: => T): T = rec.fold(f)(_.span(name)(f))

  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private def add(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  private val errors = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private var failed = 0L

  // ---------------------------------------------------------------- helpers

  private def secondsOf[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  private def duBytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    val s = java.nio.file.Files.walk(p)
    try s.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(java.nio.file.Files.size(_)).sum
    finally s.close()
  }

  private def check(r: Option[String]): Unit = r.foreach(errors += _)

  /** The seeded pages corpus of n rows, generated on the executors. */
  private def generated(n: Long): DataFrame =
    PagesCorpus.pages(spark, n, seed, parts = spark.sparkContext.defaultParallelism).toDF()

  /** Expected extracted text of generator rows [0, n) that are indexed. */
  private def corpusView(n: Long): Map[Long, (String, String)] =
    (0L until n).filterNot(PagesCorpus.isSafetyRow)
      .map(r => r -> (PagesCorpus.url(r), PagesCorpus.expectedText(seed, r))).toMap

  /** Load an index from disk and pin it for serving: the hot tables in
    * executor memory, the dictionary on the driver and, when the lines
    * and regex classes are served, the pages text in executor memory.
    */
  private def pin(out: String, rank: DataFrame, withPages: Boolean): Live =
    span("index.load") {
      val idx = IndexBuilder.load(spark, out).cacheHot().cacheDictionary()
      val pages =
        if (!withPages) null
        else {
          val p = spark.read.parquet(s"$out/pages").persist(StorageLevel.MEMORY_AND_DISK)
          p.count(); p
        }
      Live(idx, pages, rank)
    }

  private def unpin(l: Live): Unit =
    (Seq(l.idx.blocks, l.idx.terms, l.idx.docs) ++ Option(l.pages))
      .foreach(_.unpersist(true))

  /** The set-up every workload serves from: load and pin the index
    * `SetupReps` times, keeping the last; setup_s is the median.
    */
  private def setup(out: String, rank: DataFrame, withPages: Boolean): Live = {
    var live: Live = null
    (1 to SetupReps).foreach { _ =>
      if (live != null) unpin(live)
      attempted += 1
      val (l, s) = secondsOf(pin(out, rank, withPages))
      live = l; add("setup_s", s)
    }
    live
  }

  private def rankDf(rank: Map[Long, Double]): DataFrame = {
    import spark.implicits._
    rank.toSeq.sortBy(_._1).toDF("doc_id", "static_rank")
  }

  /** Run queries one after another (closed loop, one client, no think
    * time), recording each latency; answers are kept for the checks.
    */
  private def serveQueries(live: Live, qs: Seq[Query], timed: Boolean): Seq[(Query, AnyRef)] =
    qs.flatMap { q =>
      attempted += 1
      val t0 = System.nanoTime()
      try {
        val ans = span(s"query.${q.cls}")(q.run(live))
        val ms = (System.nanoTime() - t0) / 1e6
        if (timed) { add("query_ms", ms); add(s"query.${q.cls}.ms", ms) }
        Some(q -> ans)
      } catch {
        case e: Exception =>
          failed += 1; System.err.println(s"[perfbench] ${q.label} failed: $e"); None
      }
    }

  /** The batch phase: the batchable queries of `qs` through one
    * searchBlocksBatchEx call, once untimed and then `BatchReps` times
    * (batch_qps is the median). The last answers join `batchAnswers` for
    * the checks.
    */
  private val batchAnswers = mutable.ArrayBuffer.empty[(Query, AnyRef)]
  private def serveBatch(live: Live, qs: Seq[Query]): Unit = {
    val bq = qs.filter(_.batch.isDefined)
    def once(): Seq[Vector[Hit]] =
      Bm25Query.searchBlocksBatchEx(live.idx, bq.map(_.batch.get), Mix.K, Some(live.rank))
    attempted += 1
    var last: Seq[Vector[Hit]] = once()
    (1 to BatchReps).foreach { _ =>
      attempted += 1
      val (ans, s) = secondsOf(span("query.batch")(once()))
      last = ans; add("batch_qps", bq.size / s)
    }
    batchAnswers ++= bq.zip(last)
    if (trace) traceOverhead(() => once())
  }

  /** trace.overhead_ms: median wall of one batch call with the span
    * recorder attached minus detached, interleaved in this run.
    */
  private def traceOverhead(f: () => Any): Unit = rec.foreach { r =>
    val on = mutable.ArrayBuffer.empty[Double]; val off = mutable.ArrayBuffer.empty[Double]
    (1 to TraceReps).foreach { _ =>
      spark.sparkContext.removeSparkListener(r)
      off += secondsOf(f())._2 * 1e3
      spark.sparkContext.addSparkListener(r)
      on += secondsOf(f())._2 * 1e3
    }
    add("trace.overhead_ms", median(on.toSeq) - median(off.toSeq))
  }

  /** Every answer, and every batch answer, against the oracle; a batch
    * answer must equal what the oracle gives its single query.
    */
  private def checkAll(o: Oracle, answers: Seq[(Query, AnyRef)]): Unit = {
    answers.foreach { case (q, a) => check(q.check(o, a)) }
    batchAnswers.foreach { case (q, a) => check(q.check(o, a).map("batch/" + _)) }
    batchAnswers.clear()
  }

  /** Self-test: each checker must reject a perturbed copy of a real
    * answer — swapped ranks, a score one ulp off, a dropped needle doc (the
    * needle check on its own).
    */
  private def selfTest(o: Oracle, answers: Seq[(Query, AnyRef)]): Unit = {
    val multi = answers.filter(a => a._1.cls == "topk" && a._1.hosts.isEmpty)
      .find(_._2.asInstanceOf[Vector[Hit]].size >= 2)
    multi match {
      case None => errors += "self-test: no top-k answer with two hits"
      case Some((q, a)) =>
        val h = a.asInstanceOf[Vector[Hit]]
        val swapped = h.updated(0, h(1).copy(rank = 1)).updated(1, h(0).copy(rank = 2))
        if (q.check(o, swapped).isEmpty) errors += s"self-test: swapped ranks accepted (${q.label})"
        val ulp = h.updated(0, h(0).copy(score = Math.nextUp(h(0).score)))
        if (q.check(o, ulp).isEmpty) errors += s"self-test: score off by one ulp accepted (${q.label})"
    }
    answers.find(_._1.hosts.nonEmpty) match {
      case None => errors += "self-test: no needle answer"
      case Some((q, a)) =>
        val h = a.asInstanceOf[Vector[Hit]]
        val dropped = h.filterNot(_.doc_id == q.hosts.min)
        if (Checks.needle(q.label, q.hosts, dropped).isEmpty)
          errors += "self-test: dropped needle doc accepted"
    }
  }

  private def jvmStart(): Long = { heapPools.foreach(_.resetPeakUsage()); gcMs() }
  private def jvmEnd(gc0: Long): Unit = {
    add("jvm.gc_ms", (gcMs() - gc0).toDouble)
    add("jvm.heap_peak_bytes", heapPools.map(_.getPeakUsage.getUsed).sum.toDouble)
  }

  // -------------------------------------------------------------- workloads

  /** A seeded shuffle of the round, different on every call. */
  private val shuffler = new java.util.Random(seed)
  private def shuffled(qs: Seq[Query]): Seq[Query] = {
    val b = qs.toBuffer; java.util.Collections.shuffle(b.asJava, shuffler); b.toSeq
  }

  /** serve: a seeded pages corpus, written to parquet, goes through the
    * first IndexBuilder.build of a fresh JVM (build_docs_per_s,
    * index_bytes); the index is pinned `SetupReps` times (setup_s); after
    * one untimed warm-up round a closed loop of single queries runs whole
    * shuffled rounds of the seeded mix for `seconds` (query_p50_ms); then
    * the batch phase (batch_qps).
    */
  def serve(): Unit = {
    val n = ServeDocs
    val corpus = s"$dir/corpus"; val out = s"$dir/index"
    generated(n).write.parquet(corpus)
    note("corpus written")
    val raw = spark.read.parquet(corpus)
    val gc0 = jvmStart()
    attempted += 1
    val (idx, s) = secondsOf(span("index.build")(
      IndexBuilder.build(spark, IndexBuilder.extractPages(raw), out)))
    note("index built")
    add("build_docs_per_s", idx.stats.num_docs / s)
    add("index_bytes", duBytes(out).toDouble)
    val rank = Mix.rankOf(seed, n)
    val live = setup(out, rankDf(rank), withPages = true)
    note("index pinned")
    val qs = Mix.round(seed, n, rank)
    val answers = mutable.ArrayBuffer.empty[(Query, AnyRef)]
    answers ++= serveQueries(live, shuffled(qs), timed = false)
    note("warm-up round served")
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < seconds)
      answers ++= serveQueries(live, shuffled(qs), timed = true)
    note(s"query stream done (${answers.size} queries)")
    serveBatch(live, qs)
    jvmEnd(gc0)
    note("batch phase done")
    if (trace) {
      val rq = qs.filter(_.cls == "regex")
      attempted += 1
      answers ++= rq.zip(span("query.regex_batch")(RegexQuery.searchBatch(
        live.idx, live.pages, rq.map(_.text), Mix.RegexK)))
      qs.filter(_.cls == "topk").foreach { q =>
        val t = System.nanoTime()
        Bm25Query.analyze(live.idx, q.text)
        add("query.analyze_us", (System.nanoTime() - t) / 1e3)
      }
    }
    val o = new Oracle(corpusView(n))
    check(Checks.stats(idx.stats, o.stats))
    checkAll(o, answers.toSeq)
    selfTest(o, answers.toSeq)
    note("checks done")
  }

  /** refresh: the base corpus streams in as batch 0. Each round a
    * micro-batch of changed existing docs (latest wins) and new docs
    * carrying a fresh needle arrives, and the round runs append, compact,
    * load and the first query (build_docs_per_s counts the whole compacted
    * index per round second), then the probe queries (query_p50_ms and
    * query_mean_ms count them and the round's first query). Round 1 is an
    * untimed warm-up of the round itself; timed rounds repeat, whole, until
    * `seconds` have been measured. Every round is checked against the
    * oracle over the latest-wins view the benchmark keeps itself. The
    * set-up pins of the last compacted index and the batch phase follow.
    */
  def refresh(): Unit = {
    val n = RefreshDocs
    val stream = s"$dir/stream"
    import spark.implicits._
    IncrementalIndex.appendBatch(generated(n), stream, 0L)
    note("base batch appended")
    val rank = Mix.rankOf(seed, n)
    val rankFrame = rankDf(rank)
    val view = mutable.Map.empty[Long, (String, String)] ++= corpusView(n)
    var oracle = new Oracle(view.toMap)
    val r = new java.util.SplittableRandom(seed ^ 0x7e5eedL)
    // the block-path queries of the mix: a streamed index has no pages
    // table for the lines and regex classes
    val probes = Mix.round(seed, n, rank).filter(_.batch.isDefined)
    var live: Live = null
    var out = ""
    var answers: Seq[(Query, AnyRef)] = Nil
    val gc0 = jvmStart()
    var measured = 0.0
    var round = 0
    while (round < 2 || measured < seconds) {
      round += 1
      val timed = round > 1
      val before = oracle
      val fresh = f"fresh$round%03dq"
      val changed = Iterator.continually(r.nextLong(n)).filterNot(PagesCorpus.isSafetyRow)
        .distinct.take(ChangedPerRound).toVector
      val newRows = (0 until NewPerRound).map(j => n + (round - 1) * NewPerRound + j)
      val changedSeed = seed + 1000003L * round
      val rows = changed.map(d => PagesCorpus.page(changedSeed, d)) ++
        newRows.map { d =>
          val tf = if (d % 10 == 0) 1 + (d / 10 % 3).toInt else 0
          val text = (PagesCorpus.bodyTokens(seed, d) ++ Vector.fill(tf)(fresh)).mkString(" ")
          Page(d, PagesCorpus.url(d), new java.sql.Timestamp(PagesCorpus.BaseEpochMs + d * 1000L),
            text.getBytes(java.nio.charset.StandardCharsets.UTF_8), text, "en")
        }
      changed.foreach(d => view(d) = (PagesCorpus.url(d), PagesCorpus.expectedText(changedSeed, d)))
      rows.drop(changed.size).foreach(p => view(p.doc_id) = (p.url, p.text))
      val batch = rows.toDF()
      val fq = Mix.topk(s"fresh-$round", fresh, conj = true, k = 100,
        hosts = newRows.filter(_ % 10 == 0).toSet)
      out = s"$dir/index-$round"
      attempted += 1
      val t0 = System.nanoTime()
      span("streaming.append")(IncrementalIndex.appendBatch(batch, stream, round))
      span("streaming.compact")(IncrementalIndex.compact(spark, stream, out))
      if (live != null) unpin(live)
      live = pin(out, rankFrame, withPages = false)
      val tq = System.nanoTime()
      val first = span("refresh.first_query")(fq.run(live))
      val t1 = System.nanoTime()
      val roundS = (t1 - t0) / 1e9
      if (timed) {
        measured += roundS
        add("query_ms", (t1 - tq) / 1e6); add("query.topk.ms", (t1 - tq) / 1e6)
        add("refresh.round_s", roundS)
        add("build_docs_per_s", view.size / roundS)
      } else add("index_bytes", duBytes(out).toDouble)
      note(f"refresh round $round done in $roundS%.2f s")
      answers = (fq -> first) +: serveQueries(live, probes, timed)
      oracle = new Oracle(view.toMap)
      check(Checks.stats(live.idx.stats, oracle.stats))
      checkAll(oracle, answers)
      staleTest(before, oracle, probes, changed.toSet, round)
    }
    unpin(live)
    live = setup(out, rankFrame, withPages = false)
    serveBatch(live, probes)
    jvmEnd(gc0)
    checkAll(oracle, Nil)
    selfTest(oracle, answers)
    note("checks done")
  }

  /** Self-test after a refresh round: the top-k doc ids the index gave
    * before the round, for a probe whose answer the round's changed docs
    * moved, must be rejected even with every score taken from the new view.
    */
  private def staleTest(before: Oracle, now: Oracle, probes: Seq[Query],
      changed: Set[Long], round: Int): Unit = {
    val stale = probes.iterator.filter(q => q.cls == "topk" && q.hosts.isEmpty).flatMap { q =>
      val conj = q.batch.get.conjunctive
      val old = before.topK(q.text, Mix.K, conj).map(_._1)
      val scores = now.scoreAll(q.text, conj).toMap
      if (old.exists(changed) && old.forall(scores.contains) &&
          old != now.topK(q.text, Mix.K, conj).map(_._1))
        Some(q -> old.zipWithIndex.map { case (d, i) => Hit(d, now.url(d), scores(d), i + 1) })
      else None
    }.nextOption()
    stale match {
      case None => errors += s"self-test: no probe answer moved by round $round"
      case Some((q, h)) =>
        if (q.check(now, h).isEmpty)
          errors += s"self-test: stale answer accepted in round $round (${q.label})"
    }
  }

  // ----------------------------------------------------------------- output

  def result(): String = {
    rec.foreach(_ => org.apache.spark.BusDrain(spark.sparkContext))
    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    def med(name: String): Double = samples.get(name).map(b => median(b.toSeq)).getOrElse(0.0)
    if (!trace) {
      m("setup_s") = (med("setup_s"), "s")
      m("build_docs_per_s") = (med("build_docs_per_s"), "docs/s")
      m("index_bytes") = (med("index_bytes"), "bytes")
      m("query_p50_ms") = (med("query_ms"), "ms")
      m("query_mean_ms") = (samples.get("query_ms").map(b => b.sum / b.size)
        .getOrElse(0.0), "ms")
      m("batch_qps") = (med("batch_qps"), "queries/s")
    } else {
      val r = rec.get
      def put(prefix: String, c: Option[Counters], fields: Seq[String]): Unit =
        fields.foreach { f =>
          m(s"$prefix.$f") = c match {
            case None => (0.0, unitOf(f))
            case Some(x) => (field(x, f), unitOf(f))
          }
        }
      def medC(cs: Seq[Counters]): Option[Counters] =
        if (cs.isEmpty) None
        else Some(Counters(median(cs.map(_.wallMs)), median(cs.map(_.jobs.toDouble)).toInt,
          median(cs.map(_.tasks.toDouble)).toLong, median(cs.map(_.cpuMs)),
          median(cs.map(_.shuffleBytes.toDouble)).toLong,
          median(cs.map(_.inputBytes.toDouble)).toLong,
          median(cs.map(_.outputBytes.toDouble)).toLong, median(cs.map(_.driverMs))))
      put("index.build", r.counters("index.build").headOption, AllFields)
      Tables.foreach(t =>
        put(s"index.build.$t", Some(r.tableCounters("index.build", t)),
          Seq("wall_ms", "jobs", "cpu_ms", "shuffle_bytes", "output_bytes")))
      put("index.load", medC(r.counters("index.load")), Seq("wall_ms", "jobs", "cpu_ms"))
      Classes.foreach(c => put(s"query.$c", medC(r.counters(s"query.$c")),
        Seq("jobs", "tasks", "cpu_ms", "input_bytes", "driver_ms")))
      m("query.analyze_us") = (med("query.analyze_us"), "us")
      put("query.batch", medC(r.counters("query.batch")),
        Seq("jobs", "cpu_ms", "input_bytes", "driver_ms"))
      put("query.regex_batch", r.counters("query.regex_batch").headOption,
        Seq("wall_ms", "jobs"))
      put("streaming.append", medC(r.counters("streaming.append")),
        Seq("wall_ms", "jobs", "cpu_ms", "output_bytes"))
      put("streaming.compact", medC(r.counters("streaming.compact")),
        Seq("wall_ms", "jobs", "cpu_ms", "shuffle_bytes", "output_bytes", "driver_ms"))
      m("refresh.first_query_ms") = (medC(r.counters("refresh.first_query"))
        .map(_.wallMs).getOrElse(0.0), "ms")
      Classes.foreach(c => m(s"query.$c.p50_ms") = (med(s"query.$c.ms"), "ms"))
      m("query.p90_ms") = (samples.get("query_ms").map(b => quantile(b.toSeq, 0.9))
        .getOrElse(0.0), "ms")
      m("refresh.round_s") = (med("refresh.round_s"), "s")
      m("jvm.gc_ms") = (med("jvm.gc_ms"), "ms")
      m("jvm.heap_peak_bytes") = (med("jvm.heap_peak_bytes"), "bytes")
      m("trace.overhead_ms") = (med("trace.overhead_ms"), "ms")
    }
    samples.foreach { case (k, v) =>
      note(s"samples $k: " + v.map(x => f"$x%.4g").mkString(" ")) }
    errors.foreach(e => System.err.println(s"[perfbench] CHECK FAILED: $e"))
    val metrics = m.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    s"""{"correct": ${errors.isEmpty}, "attempted": $attempted, "failed": $failed, "metrics": {$metrics}}"""
  }
}

object Run {
  /** Progress line on stderr: seconds since the JVM started. */
  def note(what: String): Unit = {
    val t = System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime
    System.err.println(f"[perfbench] ${t / 1e3}%7.2f s  $what")
  }

  /** Corpus sizes and per-run repetitions (see perfbench/README.md).
    * RefreshDocs is FIXTURES.md's smoke size; a refresh micro-batch has the
    * 500 docs of the reference indexer's batch, half changed docs and half
    * new ones. ServeDocs keeps a serve run inside the run budget.
    */
  val ServeDocs = 3000L
  val RefreshDocs = 1000L
  val ChangedPerRound = 250
  val NewPerRound = 250
  val SetupReps = 3
  val BatchReps = 15
  val TraceReps = 3

  val Classes = Seq("topk", "filtered", "boosted", "lines", "regex")
  val Tables = Seq("pages", "tf", "docs", "terms", "dims", "postings", "blocks")
  val AllFields = Seq("wall_ms", "jobs", "tasks", "cpu_ms", "shuffle_bytes",
    "input_bytes", "output_bytes", "driver_ms")

  def unitOf(f: String): String =
    if (f.endsWith("_ms")) "ms" else if (f.endsWith("_bytes")) "bytes" else "count"

  def field(c: Counters, f: String): Double = f match {
    case "wall_ms" => c.wallMs
    case "jobs" => c.jobs.toDouble
    case "tasks" => c.tasks.toDouble
    case "cpu_ms" => c.cpuMs
    case "shuffle_bytes" => c.shuffleBytes.toDouble
    case "input_bytes" => c.inputBytes.toDouble
    case "output_bytes" => c.outputBytes.toDouble
    case "driver_ms" => c.driverMs
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted.toVector
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    if (lo + 1 >= s.size) s(lo) else s(lo) + (pos - lo) * (s(lo + 1) - s(lo))
  }

  def num(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString

  /** The output directory in a formatted write plan: the Arguments line of
    * the InsertIntoHadoopFsRelationCommand node's detail section.
    */
  private val InsertCmd =
    """(?s)\(\d+\) Execute InsertIntoHadoopFsRelationCommand\s.*?Arguments: (?:file:)?([^,\s]+)""".r

  /** The index table a SQL execution writes, from its physical plan. */
  def tableOf(plan: String): Option[String] = {
    val dirName = InsertCmd.findFirstMatchIn(plan).map { m =>
      val segs = m.group(1).stripSuffix("/").split('/')
      if (segs.last.startsWith("batch=")) segs(segs.length - 2) else segs.last
    }.orElse(if (plan.contains("graft_blocks_")) Some("blocks") else None)
    dirName.map {
      case "terms_rev" | "terms_ngrams" => "dims"
      case "blocks_meta" => "blocks"
      case d => d
    }
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  def gcMs(): Long = gcBeans.map(_.getCollectionTime).filter(_ > 0).sum
  val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(_.getType == MemoryType.HEAP)
}
