package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.functions.GraftFunctions
import graft.operators.Checkpoints
import graft.pipeline.{DemoFixtures, FixtureExtractor, Pipeline, Stages}
import graft.sources.FixtureSearchAdapter
import graft.streaming.{StreamingContentDedup, StreamingCurationChain, StreamingPostingsIndex, StreamingVectorIndex}

/** The benchmark's JVM side: sets the engine up, runs one workload as a
  * closed loop on one client thread, and writes a JSON record of what
  * it measured (run.py turns the record into the result line).
  *
  * Arguments are `key=value`: `workload`, `seed`, `seconds`, `trace`
  * (0|1), `data` (input tables), `work` (scratch directory, the current
  * directory of the JVM), `out` (record file), `master`, and one
  * `conf.<key>=<value>` per session conf entry. With `oracle=<names>`
  * it instead writes the oracle SQL of those queries to `out`.
  *
  * An untraced run sets up [[Setups]] times, runs [[WarmUps]] untimed
  * units (the first also dumps the answers run.py checks), then
  * `seconds` / [[NominalUnitS]] whole units of work between two blocks of
  * [[Canaries]] canaries (run.py divides the unit wall by the canary's).
  * A traced run sets up
  * once, runs one warm-up unit and then measures four units, untraced,
  * traced, traced, untraced (so warm-up drift cancels out of the tracing
  * overhead), then probes the modules its workload does not run itself,
  * so that every per-layer metric is measured on every workload.
  */
object Harness {
  val JobChain = Seq("q102_canonical_by_rank")
  val OpenTables = Seq("documents", "embeddings")
  // set-ups per untraced run (setup_s is their median); a traced run
  // reports no setup_s and sets up once
  val Setups = 3
  // untimed units before an untraced run measures: under C1 (run.py's
  // JIT flags) a JVM's first op takes about twice the settled wall, its
  // second is within a few per cent of it
  val WarmUps = 1
  // canaries timed in a row at each end of a run
  val Canaries = 5
  val Buckets = 8
  val StreamBatch = 50
  val MaxSegments = 2
  // `seconds` of measurement are this many seconds of work per unit: the
  // unit count follows from --seconds alone, never from how fast the
  // units run, so a slow window does not also change what is measured
  val NominalUnitS = Map("jobchain" -> 5.0, "curation-stream" -> 5.0)
  // no measured unit of an untraced run but the first starts later than
  // this after JVM start (run.py stops the JVM at 172 s)
  val DeadlineS = 110.0

  final case class OpRec(name: String, seconds: Double, ok: Boolean, error: String)

  final case class Args(kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing argument $k"))
    def seed: Long = apply("seed").toLong
    def seconds: Double = apply("seconds").toDouble
    def traced: Boolean = apply("trace") == "1"
    def conf: Seq[(String, String)] = kv.toSeq.collect {
      case (k, v) if k.startsWith("conf.") => k.stripPrefix("conf.") -> v
    }.sortBy(_._1)
  }

  def main(argv: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val bootS = (System.currentTimeMillis() - jvmStart) / 1e3
    val a = Args(argv.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap)
    a.kv.get("oracle") match {
      case Some(names) =>
        val sql = SparkEntry.oracleSql
        write(a("out"), names.split(',').map(n => n -> sql(n)).toMap)
      case None =>
        // Spark's non-daemon threads would keep a failed run's JVM alive
        try new Run(a, jvmStart, bootS).run()
        catch { case e: Throwable => e.printStackTrace(); sys.exit(1) }
    }
  }

  def write(path: String, v: Any): Unit =
    Files.writeString(Paths.get(path), Json(v) + "\n")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_)).sum
      finally s.close()
    }
  }

  def segments(dir: String): Int = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) 0
    else {
      val s = Files.list(p)
      try s.iterator().asScala.count(_.getFileName.toString.startsWith("batch=")) finally s.close()
    }
  }
}

final class Run(a: Harness.Args, jvmStart: Long, bootS: Double) {
  import Harness._

  private val data = a("data")
  private val work = a("work")
  private val seed = a.seed
  private val workload = a("workload")
  private val out = mutable.LinkedHashMap.empty[String, Any]
  private val metrics = mutable.LinkedHashMap.empty[String, Double]
  private val checks = mutable.LinkedHashMap.empty[String, Boolean]
  private val ops = ArrayBuffer.empty[OpRec]
  private var spark: SparkSession = _
  private var tr: Tracer = _
  private var listener: EngineListener = _
  private var retainedMb = 0.0
  private var heapAfterGcMb = 0.0

  private def sinceBoot: Double = (System.currentTimeMillis() - jvmStart) / 1e3

  private def session(): SparkSession = {
    val b = SparkSession.builder().master(a("master"))
    a.conf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** One set-up: session built, tables opened, band index bootstrapped. */
  private def setUp(i: Int): Double = {
    if (spark != null) {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
    val t0 = System.nanoTime()
    spark = session()
    OpenTables.foreach(t => Tables(spark, data, t).schema)
    StreamingContentDedup.bootstrapIndex(spark, s"pb_band$i", Buckets)
    (System.nanoTime() - t0) / 1e9
  }

  /** Bench's fixed-work canary: 64M xxhash64 values folded by bit_xor. */
  private def canary(): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 64L << 20, 1L, spark.sparkContext.defaultParallelism * 2)
      .select(xxhash64(col("id")).as("h"))
      .agg(expr("bit_xor(h)"))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** Runs one op inside a span named `op <name>`; a throw fails the op. */
  private def op(name: String)(f: => Unit): OpRec = {
    if (alternate) alternateTracing()
    val gc0 = gcSeconds()
    val t0 = System.nanoTime()
    val rec = try {
      tr.span(s"op $name")(f)
      OpRec(name, (System.nanoTime() - t0) / 1e9, ok = true, "")
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] op $name failed: $e")
        OpRec(name, (System.nanoTime() - t0) / 1e9, ok = false, e.toString)
    }
    ops += rec
    if (tr.on) { tracedOps += rec; tracedGcS += gcSeconds() - gc0 }
    else if (alternate) untracedOps += rec
    rec
  }

  // In a traced run's measured units, tracing alternates op by op:
  // untraced, traced, traced, untraced. Each workload's ops are of one
  // kind (a query or a chain batch), so the kind is measured both ways
  // and drift over the run cancels out of the overhead.
  private var alternate = false
  private var alternated = 0
  private val tracedOps = ArrayBuffer.empty[OpRec]
  private val untracedOps = ArrayBuffer.empty[OpRec]
  private var tracedGcS = 0.0

  private def alternateTracing(): Unit = {
    setTracing(alternated % 4 == 1 || alternated % 4 == 2)
    alternated += 1
  }

  private def setTracing(on: Boolean): Unit = if (on != tr.on) {
    if (on) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(listener)
    } else {
      org.apache.spark.perfbench.Drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(listener)
    }
    tr.on = on
  }

  private def fail(name: String, what: String): Unit = {
    val i = ops.lastIndexWhere(_.name == name)
    ops(i) = ops(i).copy(ok = false, error = what)
    System.err.println(s"[perfbench] op $name wrong answer: $what")
  }

  /** After an op returns: in a traced run, what it left in storage and
    * the heap; then Bench's cleanup (cached plans, persisted RDDs, and a
    * GC only when some were left).
    */
  private def afterOp(): Unit = {
    if (tr.on) {
      val stored = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      retainedMb = math.max(retainedMb, stored / 1048576.0)
    }
    spark.sharedState.cacheManager.clearCache()
    val persisted = spark.sparkContext.getPersistentRDDs.values
    if (persisted.nonEmpty) {
      persisted.foreach(_.unpersist(blocking = false))
      System.gc()
    }
    if (tr.on) {
      val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
      heapAfterGcMb = math.max(heapAfterGcMb, heap / 1048576.0)
    }
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  // ------------------------------------------------------------ queries

  private lazy val entry = SparkEntry.queries

  private def queryOp(q: String, dump: Option[String]): OpRec = {
    val r = op(q) {
      val (df, _) = tr.span("compose")(entry(q)(spark, data))
      tr.span("exec")(dump match {
        case Some(d) => df.coalesce(1).write.mode("overwrite").parquet(d)
        case None => noop(df)
      })
    }
    afterOp()
    r
  }

  private def queryPass(qs: Seq[String], u: Int, dump: Boolean): Seq[OpRec] =
    new Random(seed * 7919 + u).shuffle(qs).map(q =>
      queryOp(q, if (dump) Some(s"$work/answers/$q") else None))

  // ----------------------------------------------------------- pipeline

  private lazy val poll = new Poll

  /** The reference poll loop on the hermetic fixtures, the probe of the
    * pipeline layer: run 1 against the initial store (it must raise 3
    * alerts), run 2 against run 1's merged store (it must leave 8 store
    * rows). The seed shuffles the rows of every fixture table.
    */
  final class Poll {
    private val rng = new Random(seed)
    private def shuffled(df: DataFrame): DataFrame =
      spark.createDataFrame(rng.shuffle(df.collect().toSeq).asJava, df.schema)
    private def fixtures(fx: Pipeline.Fixtures) = Pipeline.Fixtures(
      shuffled(fx.feedEntries), shuffled(fx.articleBodies), shuffled(fx.llmExtractions),
      shuffled(fx.urlStatus), shuffled(fx.pageAnchors), shuffled(fx.atsPayloads),
      shuffled(fx.searchResults))
    val fx1: Pipeline.Fixtures = fixtures(DemoFixtures(spark))
    val fx2: Pipeline.Fixtures = fixtures(DemoFixtures.secondRun(spark))
    val store0: DataFrame = DemoFixtures.initialStore(spark)
    val asOf1: Column = to_timestamp(lit(DemoFixtures.AsOf))
    val asOf2: Column = to_timestamp(lit(DemoFixtures.AsOf2))
    val rows = mutable.Map.empty[String, ArrayBuffer[Double]]

    private def observed(r: Pipeline.Result, k: String): Double =
      Await.result(r.observations(k).future, 60.seconds).getLong(0).toDouble

    /** One poll run: compose = the Pipeline.run call; exec = the merged
      * store pinned, the report and the alerts materialised.
      */
    private def pollRun(name: String, fx: Pipeline.Fixtures, store: DataFrame,
                        asOf: Column): (OpRec, Pipeline.Result, DataFrame, Int, Long) = {
      var res: Pipeline.Result = null
      var merged: DataFrame = null
      var nAlerts = -1
      val rec = op(name) {
        res = tr.span("compose")(Pipeline.run(fx, store, asOf))._1
        tr.span("exec") {
          merged = tr.span("merge")(Checkpoints.pin(res.newStore))._1
          tr.span("report")(res.report.collect())
          nAlerts = tr.span("alerts")(res.alerts.collect().length)._1
        }
      }
      val nStore = if (merged != null) merged.count() else -1L
      if (rec.ok && tr.on) {
        rows.getOrElseUpdate("ingested", ArrayBuffer()) += observed(res, "ingested")
        rows.getOrElseUpdate("fresh", ArrayBuffer()) += observed(res, "fresh")
      }
      (rec, res, merged, nAlerts, nStore)
    }

    def unit(): Seq[OpRec] = {
      val (r1, res1, store1, alerts1, _) = pollRun("run1", fx1, store0, asOf1)
      if (r1.ok && alerts1 != 3) fail("run1", s"$alerts1 alerts, expected 3")
      val out = if (store1 == null) Seq(r1) else {
        val (r2, res2, store2, _, n2) = pollRun("run2", fx2, store1, asOf2)
        if (r2.ok && n2 != 8) fail("run2", s"$n2 store rows after run 2, expected 8")
        Option(store2).foreach(Checkpoints.release)
        Option(res2).foreach(_.batch.unpersist())
        Seq(r1, r2)
      }
      Option(store1).foreach(Checkpoints.release)
      Option(res1).foreach(_.batch.unpersist())
      afterOp()
      ops.takeRight(out.size).toSeq
    }

    /** Noop walls of the successive Stages prefixes of run 1, in
      * Pipeline.run's order; each stage's time is the difference to the
      * previous prefix.
      */
    def stageWalk(): Unit = {
      val ingested = Stages.ingestFilter(fx1.feedEntries, asOf1, 7)
      val fresh = Stages.dedupAgainstStore(ingested, store0)
      val limited = Stages.safetyLimit(fresh, 20)
      val (enriched, rejects) = Stages.enrichSplit(limited, fx1.articleBodies,
        new FixtureExtractor(fx1.llmExtractions).rawOutputs(limited, fx1.articleBodies))
      val sa = new FixtureSearchAdapter(fx1.searchResults)
      val resolved = Stages.resolveDomain(enriched, fx1.urlStatus, fx1.pageAnchors,
        sa.results(Stages.officialSiteQueries(enriched)))
      val linked = Stages.resolveLinkedIn(resolved,
        sa.results(Stages.linkedInSearchQueries(resolved)))
      val hiring = Stages.hiringSignal(linked, fx1.pageAnchors, fx1.atsPayloads, asOf1)
      val prefixes = Seq("ingest" -> ingested, "dedup" -> limited, "enrich" -> enriched,
        "resolve_domain" -> resolved, "resolve_linkedin" -> linked, "hiring" -> hiring)
      var prev = 0.0
      prefixes.foreach { case (name, df) =>
        val w = timed(noop(df))
        metrics(s"pipeline.${name}_s") = w - prev
        prev = w
      }
      val nLimited = limited.count().toDouble
      metrics("pipeline.enrich_yield") = if (nLimited > 0) enriched.count() / nLimited else 0.0
      metrics("pipeline.rows_rejected") = rejects.count().toDouble
      afterOp()
    }
  }

  // ------------------------------------------------------------- stream

  /** The curation chain over the documents table; the seed orders the
    * documents, which decides what lands in each batch.
    */
  final class Stream(dir: String, prefix: String) {
    private val docsDf = Tables(spark, data, "documents").select("doc_id", "text", "lang", "source")
    private val docs: IndexedSeq[Row] = new Random(seed).shuffle(docsDf.collect().toIndexedSeq)
    private val schema = docsDf.schema
    private val centroids = {
      val s = spark
      import s.implicits._
      (0 until 4).map(i => (i.toLong, Seq.tabulate(8)(d => if (d == i) 1.0 else 0.0)))
        .toDF("centroid_id", "centroid_vec")
    }
    private var next = 0
    var offered = 0L
    var compactions = 0
    var inputBytes = 0L
    private def path(k: String) = s"$dir/$k"

    def batch(): OpRec = {
      val i = next
      next += 1
      val rows = docs.slice(i * StreamBatch, (i + 1) * StreamBatch)
      val marks = new Array[Long](6)
      var before5 = 0
      val r = op(s"batch$i") {
        val (df, _) = tr.span("compose")(spark.createDataFrame(rows.asJava, schema))
        tr.span("exec") {
          marks(0) = tr.now()
          StreamingCurationChain.processBatch(spark, df, prefix, path("kept"),
            path("card"), path("ivf"), path("post"), centroids, i.toLong,
            buckets = Buckets, maxSegments = MaxSegments,
            onStage = (_, k) => {
              marks(k) = tr.now()
              if (tr.on && k == 4) before5 = segments(path("kept"))
              if (tr.on && k == 5 && segments(path("kept")) < before5) compactions += 1
            })
          val ends = marks.slice(1, 5) :+ tr.now()
          Seq("dedup_kept", "card", "vector_index", "postings", "maintain").zipWithIndex
            .foreach { case (n, k) => tr.record(n, marks(k), ends(k)) }
        }
      }
      offered += rows.size
      inputBytes += rows.map(_.getString(1).getBytes("UTF-8").length.toLong).sum
      afterOp()
      r
    }


    /** kept ids = IVF list ids = postings ids, and the card counts them. */
    def consistent(): Boolean = {
      val s = spark
      import s.implicits._
      val kept = spark.read.parquet(path("kept"))
      val keptIds = kept.select("doc_id").as[Long].collect().sorted.toSeq
      val listed = StreamingVectorIndex.lists(spark, path("ivf")).select("cand_id")
        .as[Long].collect().sorted.toSeq
      val posted = StreamingPostingsIndex.postings(spark, path("post"),
        kept.select("doc_id", "text"), "doc_id", "text")
        .select("doc_id").distinct().as[Long].collect().sorted.toSeq
      val carded = spark.read.parquet(path("card")).agg(sum("n_docs")).head().getLong(0)
      keptIds.nonEmpty && keptIds.distinct.size == keptIds.size && listed == keptIds &&
        posted == keptIds && carded == keptIds.size
    }

    def keptCount: Long = spark.read.parquet(path("kept")).count()

    def layerMetrics(view: TraceView): Unit = {
      // every traced batch but the first, which warms the chain up
      val batchSpans = view.spans.filter(s => s.name.startsWith("op batch") && s.name != "op batch0")
      def stageS(name: String): Double = mean(batchSpans.map(b =>
        view.children(b.id).filter(_.name == "exec")
          .flatMap(e => view.children(e.id)).filter(_.name == name).map(_.seconds).sum))
      Seq("dedup_kept", "card", "vector_index", "postings", "maintain").foreach(n =>
        metrics(s"streaming.${n}_s") = stageS(n))
      metrics("streaming.jobs_per_batch") = mean(batchSpans.map(b => view.jobsUnder(b.id).size.toDouble))
      metrics("streaming.docs_per_s") = batchSpans.size * StreamBatch / batchSpans.map(_.seconds).sum
      metrics("streaming.admit_ratio") = keptCount.toDouble / offered
      Seq("kept" -> "kept", "card" -> "card", "ivf" -> "ivf", "postings" -> "post").foreach {
        case (m, d) => metrics(s"streaming.${m}_mb") = dirBytes(path(d)) / 1048576.0
      }
      metrics("streaming.compactions") = compactions.toDouble
      metrics("streaming.stored_bytes_ratio") =
        Seq("kept", "card", "ivf", "post").map(d => dirBytes(path(d))).sum.toDouble / inputBytes
    }
  }

  // ---------------------------------------------------------- functions

  /** Rows per second of each hot native expression: a noop projection
    * over a cached input (documents x 10, embeddings x 25), median of 3.
    */
  private def kernels(): Unit = {
    val words = Tables(spark, data, "documents").select("text")
      .crossJoin(spark.range(10).toDF("k"))
      .select(concat(col("text"), lit(" "), col("k").cast("string")).as("text"))
      .withColumn("words", split(col("text"), " "))
      .withColumn("wh", GraftFunctions.hash64_array(col("words"), 7))
      .persist()
    val vecs = Tables(spark, data, "embeddings").select("embedding")
      .crossJoin(spark.range(25).toDF("k")).select("embedding").persist()
    val nWords = words.count().toDouble
    val nVecs = vecs.count().toDouble
    Seq(
      ("hash64_array", words, GraftFunctions.hash64_array(col("words"), 11), nWords),
      ("minhash_sig", words, GraftFunctions.minhash_sig(col("wh"), 16), nWords),
      ("shingle_hash3", words, GraftFunctions.shingle_hash3(col("wh")), nWords),
      ("bpe_token_count", words, GraftFunctions.bpe_token_count(col("text")), nWords),
      ("dot", vecs, GraftFunctions.dot(col("embedding"), col("embedding")), nVecs)
    ).foreach { case (name, df, kernel, n) =>
      metrics(s"functions.$name.rows_per_s") = n / median(Seq.fill(3)(timed(noop(df.select(kernel.as("v"))))))
    }
    words.unpersist(); vecs.unpersist()
  }

  // ---------------------------------------------------------------- run

  /** `units` whole units, none but the first started after the
    * deadline. Returns each unit's wall: the sum of its ops' walls, so
    * the benchmark's own clean-up between ops is not counted.
    */
  private def measure(units: Int)(unit: Int => Seq[OpRec]): Seq[Double] = {
    val walls = ArrayBuffer.empty[Double]
    while (walls.size < units && (walls.isEmpty || sinceBoot < DeadlineS))
      walls += unit(walls.size).map(_.seconds).sum
    walls.toSeq
  }

  def run(): Unit = {
    val setupS = ArrayBuffer(setUp(1))
    val coldSetupS = sinceBoot
    if (!a.traced) setupS ++= (2 to Setups).map(setUp)
    val prefix = s"pb_band${setupS.size}"
    tr = new Tracer(spark.sparkContext, on = false)
    val stream = if (workload == "curation-stream") new Stream(s"$work/stream", prefix) else null
    def unit(u: Int, dump: Boolean = false): Seq[OpRec] = workload match {
      case "jobchain" => queryPass(JobChain, u, dump)
      case "curation-stream" => Seq(stream.batch())
    }

    // untimed warm-up; its first unit also dumps the answers run.py checks
    (1 to (if (a.traced) 1 else WarmUps)).foreach(w => unit(-w, dump = w == 1))
    val warmOps = ops.size
    // the canary is timed warm, [[Canaries]] times in a row before the
    // measured units and again at the end of the run
    canary()
    val canaries = ArrayBuffer.fill(Canaries)(canary())
    // the stream has documents for 10 batches
    val measuredUnits = math.min(if (stream != null) 10 - WarmUps else Int.MaxValue,
      math.max(1, math.round(a.seconds / NominalUnitS(workload)).toInt))
    listener = new EngineListener
    if (!a.traced) {
      out("wall_s") = measure(measuredUnits)(unit(_))
      out("op_s") = ops.drop(warmOps).map(_.seconds)
    } else {
      // four units whatever the time: the untraced-traced-traced-untraced
      // pattern needs them all
      alternate = true
      (0 until 4).foreach(unit(_))
      alternate = false
      setTracing(true)
      require(tracedOps.nonEmpty && untracedOps.nonEmpty, "tracing pattern incomplete")
      val units = tracedOps.size.toDouble / (if (workload == "jobchain") JobChain.size else 1)
      out("traced_units") = units
      out("traced_spans") = tr.spans.size
      val view = new TraceView(tr.spans.toSeq, listener.jobs.toSeq, listener.plans.toSeq)
      layerSplit(view, units, tracedOps.map(_.seconds).sum / units)
      metrics("jvm.gc_s") = tracedGcS / units
      metrics("trace.overhead_frac") =
        tracedOps.map(_.seconds).sum / untracedOps.map(_.seconds).sum - 1
      // the wall the client waits per unit of work, on the untraced units
      val untracedUnits = untracedOps.size * units / tracedOps.size
      metrics("client.wall_s") = untracedOps.map(_.seconds).sum / untracedUnits
      // modules this workload does not run itself are probed here
      if (workload == "curation-stream") stream.layerMetrics(view)
      probes()
      org.apache.spark.perfbench.Drain(spark.sparkContext)
      out("spans") = (new TraceView(tr.spans.toSeq, listener.jobs.toSeq, listener.plans.toSeq))
        .withJobs.map(s => Seq(s.id, s.parent, s.name, s.start, s.end))
      kernels()
      metrics("jvm.boot_s") = bootS
      metrics("jvm.cold_setup_s") = coldSetupS
      metrics("jvm.heap_after_gc_mb") = heapAfterGcMb
      metrics("engine.retained_mb") = retainedMb
    }
    if (stream != null) checks("stream_artifacts_consistent") = stream.consistent()

    // the first canary after an op pays for the op's asynchronous
    // clean-up, so the end block too starts with an untimed one
    canary()
    canaries ++= Seq.fill(Canaries)(canary())
    metrics("env.canary_s") = median(canaries.toSeq)
    out("setup_s") = setupS.toSeq
    out("cold_setup_s") = coldSetupS
    out("canary_s") = canaries.toSeq
    out("ops") = ops.map(o => Map("name" -> o.name, "seconds" -> o.seconds, "ok" -> o.ok, "error" -> o.error))
    out("checks") = checks
    out("metrics") = metrics
    out("stamp") = Map(
      "master" -> a("master"),
      "cpus" -> spark.sparkContext.defaultParallelism,
      "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark" -> spark.version,
      "java" -> System.getProperty("java.version"),
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filter(_.startsWith("-XX:")).toSeq,
      // the warehouse dir is a path inside the checkout, not engine behaviour
      "sql_conf" -> spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.") && k != "spark.sql.warehouse.dir" }.toSeq.sortBy(_._1).toMap)
    write(a("out"), out)
    spark.stop()
  }

  /** The layer split of the traced ops, per unit of work (`wall` is the
    * traced ops' wall per unit).
    */
  private def layerSplit(view: TraceView, units: Double, wall: Double): Unit = {
    val opSpans = view.spans.filter(s => s.parent < 0 && s.name.startsWith("op "))
    def phase(name: String) = opSpans.flatMap(o => view.children(o.id).filter(_.name == name))
    val compose = phase("compose")
    val exec = phase("exec")
    val allJobs = opSpans.flatMap(o => view.jobsUnder(o.id))
    val composeJobs = compose.flatMap(s => view.jobsUnder(s.id))
    val execJobs = exec.flatMap(s => view.jobsUnder(s.id))
    val taskS = allJobs.map(_.taskNanos).sum / 1e9 / units
    metrics("Queries.compose_s") = compose.map(_.seconds).sum / units
    metrics("Queries.compose_jobs") = composeJobs.size / units
    metrics("Queries.compose_task_s") = composeJobs.map(_.taskNanos).sum / 1e9 / units
    metrics("engine.plan_s") = exec.flatMap(view.plansUnder).map(_.planNanos).sum / 1e9 / units
    metrics("engine.exec_s") = exec.map(_.seconds).sum / units
    metrics("engine.exec_jobs") = execJobs.size / units
    metrics("engine.tasks") = allJobs.map(_.tasks).sum / units
    metrics("engine.task_s") = taskS
    metrics("engine.shuffle_write_mb") = allJobs.map(_.shuffleWrite).sum / 1048576.0 / units
    metrics("engine.spill_mb") = allJobs.map(_.spill).sum / 1048576.0 / units
    metrics("engine.cores_busy") = taskS / wall
    metrics("engine.s_per_job") = wall * units / math.max(1, allJobs.size)
    metrics("Tables.input_mb") = allJobs.map(_.input).sum / 1048576.0 / units
    if (workload == "jobchain") perQuery(view, opSpans)
  }

  private def perQuery(view: TraceView, opSpans: Seq[Span]): Unit = JobChain.foreach { q =>
    val mine = opSpans.filter(_.name == s"op $q")
    def ph(n: String) = mine.flatMap(o => view.children(o.id).filter(_.name == n))
    metrics(s"$q.compose_s") = median(ph("compose").map(_.seconds))
    metrics(s"$q.compose_jobs") = median(ph("compose").map(s => view.jobsUnder(s.id).size.toDouble))
    metrics(s"$q.exec_s") = median(ph("exec").map(_.seconds))
  }

  private def pollMetrics(view: TraceView, opSpans: Seq[Span]): Unit = {
    val runs = opSpans.filter(s => s.name == "op run1" || s.name == "op run2")
    def ph(n: String) = runs.flatMap(o => view.children(o.id).filter(_.name == n))
    def sub(n: String) = ph("exec").flatMap(e => view.children(e.id).filter(_.name == n))
    metrics("pipeline.build_s") = median(ph("compose").map(_.seconds))
    Seq("merge", "report", "alerts").foreach(n =>
      metrics(s"pipeline.${n}_s") = median(sub(n).map(_.seconds)))
    metrics("pipeline.jobs") = median(runs.map(r => view.jobsUnder(r.id).size.toDouble))
    // per unit of work: run 1 + run 2
    val pairs = runs.size / 2.0
    metrics("pipeline.rows_ingested") = poll.rows.getOrElse("ingested", Nil).sum / pairs
    metrics("pipeline.rows_fresh") = poll.rows.getOrElse("fresh", Nil).sum / pairs
    poll.stageWalk()
  }

  /** Per-layer metrics of the modules the workload does not run: one
    * traced pass of each, after the workload's own measurement.
    */
  private def probes(): Unit = {
    if (workload != "jobchain") {
      val before = tr.spans.size
      queryPass(JobChain, 0, dump = false)
      perQuery(viewNow(), tr.spans.drop(before).filter(s => s.parent < 0).toSeq)
    }
    val before = tr.spans.size
    poll.unit()
    pollMetrics(viewNow(), tr.spans.drop(before).filter(s => s.parent < 0).toSeq)
    if (workload != "curation-stream") {
      StreamingContentDedup.bootstrapIndex(spark, "pb_probe", Buckets)
      val s = new Stream(s"$work/probe_stream", "pb_probe")
      s.batch()
      s.batch()
      s.layerMetrics(viewNow())
    }
  }

  private def viewNow(): TraceView = {
    org.apache.spark.perfbench.Drain(spark.sparkContext)
    new TraceView(tr.spans.toSeq, listener.jobs.toSeq, listener.plans.toSeq)
  }
}
