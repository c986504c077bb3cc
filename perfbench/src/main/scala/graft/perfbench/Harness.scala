package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType}

import org.apache.spark.perfbench.BusDrain

import graft.{SparkEntry, Tables}
import graft.ops.{CorpusPrep, TextOps, WeatherPipeline}

/** One benchmark run in one JVM: set up, run a workload closed-loop with
  * one caller, write the raw measurements as JSON. Driven by run.py,
  * which generates the inputs and checks the outputs.
  *
  * Arguments are `key=value`: workload, input, work, seconds, trace,
  * cpus, out, plus `batches` (weather_etl: update batches available).
  */
object Harness {
  private val opts = mutable.Map[String, String]()
  private lazy val work = opts("work")
  private lazy val cpus = opts("cpus").toInt
  private lazy val trace = opts("trace") == "1"

  // measurements
  private val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private val values = mutable.LinkedHashMap[String, Any]()
  private val errors = mutable.Map[String, Int]().withDefaultValue(0)
  private var attempted = 0
  private var failed = 0
  private var heapPeakMb = 0.0

  // tracing state: the tracer is attached for the whole traced run
  // except half the measured operations, which gives the overhead
  private var tracer: Option[Tracer] = None
  private var tracing = false
  private val intervals = mutable.ArrayBuffer[(String, Long, Long)]()
  private val extraPhases = mutable.ArrayBuffer[(String, String, Long)]()
  private val spanWall = mutable.Map[String, Long]().withDefaultValue(0L)
  private val spanCalls = mutable.Map[String, Long]().withDefaultValue(0L)
  private var tracedOps = 0

  /** The phase of the run the next calls belong to: `cold` (the first
    * operation), `warmup`, `op` (the measured operations) or one of the
    * workload's own (`query`, `extra`, `stages`). Spans are keyed by it. */
  private var phase = "setup"

  /** One unmeasured warm operation first (the program JIT-warms over its
    * first calls, and an operation measured on that slope moves with
    * compile timing), then at least three measured, however long they
    * take. A traced run measures at least two on each side of its
    * traced/untraced comparison. */
  private val WarmUpOps = 1
  private val MinMeasuredOps = 3

  private def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += v

  /** A call into the program under span `name` of the current phase
    * (recorded while the tracer is attached). */
  private def span[T](spark: SparkSession, name: String)(f: => T): T = {
    if (!tracing) return f
    val key = s"$phase/$name"
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(Tracer.SpanProp)
    sc.setLocalProperty(Tracer.SpanProp, key)
    val s = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try f finally {
      spanWall(key) += System.nanoTime() - t0
      spanCalls(key) += 1
      intervals += ((key, s, System.currentTimeMillis()))
      sc.setLocalProperty(Tracer.SpanProp, outer)
    }
  }

  /** Attach or detach the tracer. The listener bus delivers events
    * asynchronously, so it is drained first: the events of the calls so
    * far reach the tracer exactly when those calls ran traced. */
  private def setTracing(spark: SparkSession, on: Boolean): Unit =
    for (t <- tracer if on != tracing) {
      BusDrain(spark.sparkContext)
      if (on) {
        spark.sparkContext.addSparkListener(t)
        spark.listenerManager.register(t)
      } else {
        spark.sparkContext.removeSparkListener(t)
        spark.listenerManager.unregister(t)
      }
      tracing = on
    }

  /** The measured phase: at least the minimum of calls of `f`, and more
    * until `seconds` have passed (or `more` turns false). A traced run
    * detaches the tracer for half the calls, in the order traced,
    * untraced, untraced, traced (so a drift over the calls, such as JIT
    * warm-up, weighs the same on both sides), and records both sides'
    * timings. */
  private def measure(spark: SparkSession, seconds: Double, more: => Boolean = true)(
      f: => Option[Double]): Unit = {
    phase = "op"
    val minOps = if (trace) 4 else MinMeasuredOps
    val t0 = System.nanoTime()
    var n = 0
    while (more && (n < minOps || (System.nanoTime() - t0) / 1e9 < seconds)) {
      setTracing(spark, n % 4 == 0 || n % 4 == 3)
      val traced = tracing
      if (traced) tracedOps += 1
      f.foreach(t => if (trace) sample(if (traced) "op_traced_s" else "op_untraced_s", t))
      n += 1
    }
    setTracing(spark, true)
    values("measured_ops") = n
    values("measured_s") = (System.nanoTime() - t0) / 1e9
  }

  /** Time one operation. A call that throws counts as failed, records
    * its exception class and is never timed. */
  private def op[T](name: String)(f: => T): Option[(T, Double)] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = f
      val t = (System.nanoTime() - t0) / 1e9
      sample(name, t)
      Some((r, t))
    } catch {
      case e: Throwable =>
        failed += 1
        errors(e.getClass.getName) += 1
        System.err.println(s"[perfbench] $name failed: $e")
        None
    }
  }

  private def newSession(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .withExtensions(new graft.expressions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Session plus the workload's table/footer warm-up. */
  private def setUp(workload: String): SparkSession = {
    val spark = newSession()
    spark.range(1000).selectExpr("sum(id)").collect()
    workload match {
      case "catalog_mix" => Tables(spark, opts("input"), "documents").count()
      case _ =>
    }
    spark
  }

  /** Old-generation heap in use after a full GC, taken after the
    * measured operations (the run's highest point: the heap grows over
    * the run). Repeated a moment apart until it stops falling: blocks of unreachable checkpoints and
    * broadcasts are freed by Spark's ContextCleaner only after a GC has
    * enqueued their references, and the cleaner runs later under load. */
  private def heapSample(): Unit = {
    def oldGenMb() = {
      System.gc()
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getType == MemoryType.HEAP && p.getName.contains("Old"))
        .map(p => Option(p.getCollectionUsage).getOrElse(p.getUsage).getUsed)
        .sum / 1048576.0
    }
    var prev = oldGenMb()
    var cur = prev
    var rounds = 0
    do {
      prev = cur
      Thread.sleep(300)
      cur = oldGenMb()
      rounds += 1
    } while (prev - cur > 1.0 && rounds < 20)
    sample("heap_old_mb", cur)
    heapPeakMb = math.max(heapPeakMb, cur)
  }

  def main(args: Array[String]): Unit = {
    args.foreach { a => val i = a.indexOf('='); opts(a.take(i)) = a.drop(i + 1) }
    val workload = opts("workload")
    val seconds = opts("seconds").toDouble

    // set-up: from JVM start (class loading, the session with
    // GraftExtensions, the warm-up) to the first timed call
    val spark = setUp(workload)
    sample("setup_s",
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3)
    if (trace) {
      tracer = Some(new Tracer)
      setTracing(spark, true)
    }

    workload match {
      case "weather_etl" => weather(spark, seconds)
      case "catalog_mix" => catalog(spark, seconds)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    tracer.foreach { t =>
      BusDrain(spark.sparkContext)
      t.attribute(intervals.toSeq, extraPhases.toSeq)
    }
    writeResult(spark)
    spark.stop()
  }

  // --- weather_etl ---------------------------------------------------------

  /** The reference's Athena Q1-Q3 on the clean table. */
  private def query(spark: SparkSession, clean: String, i: Int): Array[Row] = {
    val t = spark.read.parquet(clean)
    val sun = round(avg(col("sunshine_duration")) / 3600, 2).as("sun_hours")
    i match {
      case 0 => t.groupBy(col("location_name")).agg(sun)
        .orderBy(col("sun_hours").desc, col("location_name")).collect()
      case 1 => t.groupBy(col("location_name"), col("month")).agg(sun)
        .orderBy(col("sun_hours").desc, col("location_name"), col("month"))
        .limit(10).collect()
      case _ => t.filter(col("location_name") === "Las_Palmas_de_Gran_Canaria")
        .groupBy(col("month")).agg(round(avg(col("uvindex")), 1).as("avg_uv"))
        .orderBy(col("month")).collect()
    }
  }

  private def weather(spark: SparkSession, seconds: Double): Unit = {
    val in = opts("input")
    val clean = s"$work/clean"
    val q = Array.fill[Seq[Row]](3)(Nil)
    def runQueries(): Unit = {
      val outer = phase
      phase = "query"
      for (i <- 0 until 3)
        op("query_s")(span(spark, "wx.query")(query(spark, clean, i)))
          .foreach { case (r, _) => q(i) = r.toSeq }
      phase = outer
    }
    var k = 0
    val tracedBatches = mutable.ArrayBuffer[Int]()
    def batch(metric: String): Option[Double] = {
      k += 1
      if (tracing && phase == "op") tracedBatches += k
      op(metric)(span(spark, "wx.upsert")(
        WeatherPipeline.incremental(spark, f"$in/batch_$k%03d", clean))).map(_._2)
    }
    phase = "cold"
    op("cold_s")(span(spark, "wx.write")(WeatherPipeline.run(spark, s"$in/bulk", clean)))
    runQueries()
    if (trace) {
      phase = "extra"
      span(spark, "wx.transform")(WeatherPipeline.transform(spark, s"$in/bulk").count())
    }
    // the queries follow the bulk load and every measured batch
    phase = "warmup"
    for (_ <- 1 to WarmUpOps) batch("warmup_s")
    val batches = opts("batches").toInt
    measure(spark, seconds, k < batches) {
      val t = batch("op_s")
      runQueries()
      t
    }
    heapSample()
    values("batches_applied") = k
    values("traced_batches") = tracedBatches.toSeq
    values("q1") = q(0).map(r => Seq(r.getString(0), r.get(1)))
    values("q2") = q(1).map(r => Seq(r.getString(0), r.getInt(1), r.get(2)))
    values("q3") = q(2).map(r => Seq(r.getInt(0), r.get(1)))
  }

  // --- catalog_mix ---------------------------------------------------------

  /** The fixed key mix, in the catalog bench's order (by name): the
    * corpus pipeline and an iterative GraphOps key. Both read only the
    * `documents` table and have a DuckDB oracle. */
  val MixKeys = Seq("corpus_prep_e2e", "graph_pagerank")

  /** Time a catalog key as its function call (key.build) plus count()
    * (key.action). Returns the frame and its row count. */
  private def runKey(spark: SparkSession, key: String,
      metric: String): Option[((DataFrame, Long), Double)] =
    op(metric) {
      val df = span(spark, "key.build")(SparkEntry.queries(key)(spark, opts("input")))
      if (tracing) df.queryExecution.tracker.phases.get("analysis")
        .foreach(p => extraPhases += ((s"$phase/key.build", "analysis", p.durationMs)))
      (df, span(spark, "key.action")(df.count()))
    }

  private val rowCounts = mutable.Map[String, mutable.Set[Long]]()

  /** One pass over the key mix, timed as the sum of its key calls (and
    * only when every call succeeded). With `save`, each key's output is
    * written there, untimed, right after its call. */
  private def pass(spark: SparkSession, label: String, save: Option[String]): Option[Double] = {
    val times = MixKeys.map { key =>
      runKey(spark, key, s"$label:$key").map { case ((df, n), t) =>
        rowCounts.getOrElseUpdate(key, mutable.Set()) += n
        save.foreach(d => df.write.mode("overwrite").parquet(s"$d/$key"))
        t
      }
    }
    val total = if (times.forall(_.isDefined)) Some(times.flatten.sum) else None
    total.foreach(sample(s"${label}_s", _))
    total
  }

  private def catalog(spark: SparkSession, seconds: Double): Unit = {
    phase = "cold"
    pass(spark, "cold", Some(s"$work/cold"))
    phase = "warmup"
    for (_ <- 1 to WarmUpOps) pass(spark, "warmup", Some(s"$work/warm"))
    measure(spark, seconds)(pass(spark, "op", None))
    values("oracle_sql") = MixKeys.flatMap(k => SparkEntry.oracleSql.get(k).map(k -> _)).toMap
    values("row_counts") = rowCounts.map { case (k, v) => k -> v.toSeq.sorted }.toMap
    heapSample()
    if (trace) {
      phase = "stages"
      corpusStages(spark)
    }
  }

  /** The `corpus_prep_e2e` key's input frame (its `built` fixture: docs
    * re-lined at 8 words with alternating terminal punctuation), rebuilt
    * here so the traced run can time the key's stages one by one. */
  private def corpusBuilt(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val nLines = ceil(size(toks).cast(DoubleType) / 8).cast(IntegerType)
    val firstLineDot = concat(array_join(slice(toks, 1, 8), " "), lit("."))
    Tables(spark, dir, "documents").select(col("doc_id"),
      concat(
        array_join(transform(sequence(lit(0), nLines - 1),
          i => concat(
            array_join(slice(toks, i * 8 + 1, lit(8)), " "),
            when((col("doc_id") + i) % 3 =!= 0, lit(".")).otherwise(lit("")))),
          "\n"),
        lit("\n"), firstLineDot,
        when(col("doc_id") % 37 === 0, lit("\nsee lorem ipsum dolor sit amet."))
          .otherwise(lit("")),
        when(col("doc_id") % 41 === 0, lit("\nvar cfg = {")).otherwise(lit("")))
        .as("text"))
  }

  /** The corpus key's stages as separate spans (traced run only), which
    * also gives each stage's surviving population (the fuzzy-dedup
    * survivors are the key's own output rows). Same knobs as the key.
    * The whole pipeline is rerun as `corpus.prepare`. */
  private def corpusStages(spark: SparkSession): Unit = {
    val built = corpusBuilt(spark, opts("input"))
    val c4 = span(spark, "corpus.c4")(
      TextOps.c4QualityFlags(built, "text", 5, 3).filter(col("keep") === 1).count())
    val ladder = span(spark, "corpus.ladder") {
      val l = CorpusPrep.ladderThroughLineDedup(built, "doc_id", "text",
        gopherMinWords = 30, gopherMinStopwords = 1)
      (l, l.count())
    }
    val lm = span(spark, "corpus.lm_fit") {
      val fit = TextOps.unigramLmFit(ladder._1, "text")
      spark.createDataFrame(fit.collect().toSeq.asJava, fit.schema)
    }
    val lmKept = span(spark, "corpus.lm_score")(
      TextOps.unigramScoreWith(ladder._1, "doc_id", "text", lm)
        .filter(col("mean_neg_logprob") <= 3.79).count())
    span(spark, "corpus.prepare")(
      CorpusPrep.prepare(built, "doc_id", "text", gopherMinWords = 30,
        gopherMinStopwords = 1, lmMaxNegLogProb = 3.79, lmModel = Some(lm)).count())
    values("populations") = Map("docs" -> Tables(spark, opts("input"), "documents").count(),
      "c4_kept" -> c4, "gopher_kept" -> ladder._2, "lm_kept" -> lmKept)
  }

  // --- result --------------------------------------------------------------

  private def writeResult(spark: SparkSession): Unit = {
    values("attempted") = attempted
    values("failed") = failed
    values("errors") = errors.toMap
    values("heap_peak_mb") = heapPeakMb
    values("traced_ops") = tracedOps
    values("samples") = samples.map { case (k, v) => k -> v.toSeq }.toMap
    values("spark_version") = spark.version
    values("java_version") = System.getProperty("java.version")
    values("max_heap_mb") = Runtime.getRuntime.maxMemory / 1048576.0
    tracer.foreach { t =>
      def counters(c: Tracer.Counters) = Map(
        "jobs" -> c.jobs, "tasks" -> c.tasks,
        "task_run_s" -> c.taskRunMs / 1e3, "task_cpu_s" -> c.taskCpuNs / 1e9,
        "gc_s" -> c.gcMs / 1e3,
        "shuffle_write_mb" -> c.shuffleWriteBytes / 1048576.0,
        "spill_mb" -> c.spillBytes / 1048576.0,
        "input_files" -> c.inputFiles, "output_files" -> c.outputFiles,
        "output_mb" -> c.outputBytes / 1048576.0,
        "output_rows" -> c.outputRecords,
        "catalyst_analysis_s" -> c.analysisMs / 1e3,
        "catalyst_optimize_s" -> c.optimizeMs / 1e3,
        "catalyst_plan_s" -> c.planMs / 1e3)
      val sc = t.spanCounters
      values("spans") = (spanWall.keySet ++ sc.keySet).map { s =>
        s -> (counters(sc.getOrElse(s, new Tracer.Counters)) ++ Map(
          "wall_s" -> spanWall(s) / 1e9, "calls" -> spanCalls(s)))
      }.toMap
      values("modules") = t.moduleCounters.map { case (m, c) =>
        m -> Map("jobs" -> c.jobs, "task_run_s" -> c.taskRunMs / 1e3) }
      values("operators") = t.operatorCounters.map { case (m, c) =>
        m -> Map("jobs" -> c.jobs, "task_run_s" -> c.taskRunMs / 1e3) }
    }
    Files.writeString(Paths.get(opts("out")), Json(values.toMap))
  }
}

/** Minimal JSON writer for maps, sequences, strings and numbers. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case d: java.math.BigDecimal => d.toPlainString
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => apply(other.toString)
  }
}
