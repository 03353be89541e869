package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{GraftSession, SparkEntry, Tables}

/** Benchmark client: drives `SparkEntry.queries` on one
  * `GraftSession`, from one thread, one query at a time (a closed
  * loop with a single client).
  *
  * A run sets the session up five times (`setup_s` is the median;
  * the artifact also keeps the time from JVM start to the first timed
  * pass), then makes one untimed check pass and two untimed warm
  * passes (the JIT is still compiling the hot paths through the
  * second pass: on 4 cores a pass right after the check pass read
  * 30-45% slower than the fourth, and with one warm pass the first
  * timed pass was still up to 20% slower than the next), then
  * repeats timed passes until `--seconds` have gone by, at least two.
  * Each pass runs every query of the workload once, in an order drawn
  * from the seed and the pass index.
  *
  * Usage: `LayerBench --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --digests FILE --out DIR [--commit C]
  *   [--record 1]`. With `--record 1` only the check pass runs, and
  * each result's digest is written to `DIR/record-W/digests.tsv` (and
  * results with an oracle are dumped as parquet beside it) instead of
  * being compared. The last stdout line is the result JSON. */
object LayerBench {
  val Setups = 5
  /** Untimed passes between the check pass and the first timed one. */
  val WarmPasses = 2
  /** Cores of the `local[N]` session. */
  val Cpus = 4
  /** Counts that must repeat exactly in every traced pass. */
  val RepeatCounts = Seq("exec.jobs", "exec.stages", "exec.tasks",
    "queries.build_jobs", "streaming.batches")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String): String =
      opt.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val wl = Workloads(need("workload"))
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val data = need("data")
    val out = Paths.get(need("out"))
    val record = opt.get("record").contains("1")
    Files.createDirectories(out)

    val setupSecs = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 1 to Setups) {
      val t0 = System.nanoTime()
      spark = GraftSession("perfbench", Cpus.toString)
      Tables.names.filter(t => Files.exists(Paths.get(data, s"$t.parquet")))
        .foreach(t => Tables.load(spark, data, t).schema)
      spark.range(1).count()
      setupSecs += (System.nanoTime() - t0) / 1e9
      if (i < Setups) spark.stop()
    }
    val sc = spark.sparkContext
    val tracer = if (trace) Some(new Tracer(spark)) else None
    def span[T](name: String, label: String)(body: => T): T =
      tracer.fold(body)(_.span(name, label)(body))

    val builders = SparkEntry.queries
    val expected = if (record) Map.empty[String, String] else readDigests(need("digests"))
    val failures = ArrayBuffer.empty[(String, String)]
    val recorded = ArrayBuffer.empty[(String, String)]
    val oracles = SparkEntry.oracleSql
    var attempted = 0

    def sink(df: DataFrame, q: String): Unit =
      if (wl.csvSink) graft.sources.Sinks.csv(df, out.resolve("sink").resolve(q).toString)
      else df.write.format("noop").mode("overwrite").save()

    var heapPeakMb = 0.0
    var firstPassS = Double.NaN

    /** Runs one query; returns its latency (build + sink) or None on failure. */
    def runQuery(q: String, check: Boolean): Option[Double] = span("query", q) {
      attempted += 1
      val result = try {
        val t0 = System.nanoTime()
        val df = span("build", q)(builders(q)(spark, data))
        span("sink", q)(sink(df, q))
        val latency = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[perfbench] $q%s ${latency}%.3f s${if (check) " (check pass)" else ""}%s")
        if (check) span("check", q) {
          val d = digest(df)
          if (record) {
            recorded += q -> d
            if (oracles.contains(q))
              df.write.mode("overwrite").parquet(out.resolve(s"record-${wl.name}").resolve(q).toString)
          } else expected.get(q) match {
            case Some(e) if e == d => ()
            case Some(e) => failures += q -> s"digest $d, expected $e"
            case None => failures += q -> "no recorded digest"
          }
        }
        Some(latency)
      } catch {
        case e: Throwable =>
          failures += q -> Option(e.getMessage).getOrElse(e.getClass.getName)
            .linesIterator.take(1).mkString.take(300)
          None
      }
      if (!check) heapPeakMb = heapPeakMb.max(
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6)
      tracer.foreach { t =>
        val persisted = sc.getPersistentRDDs.keySet
        t.add("operators.checkpoints", persisted.size.toDouble)
        t.add("operators.checkpoint_mb", sc.getRDDStorageInfo
          .filter(i => persisted.contains(i.id)).map(i => i.memSize + i.diskSize).sum / 1e6)
      }
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      result
    }

    final case class Pass(index: Int, latencies: Seq[(String, Double)], wall: Double,
                          load: (String, String), counters: Map[String, Double])
    val passes = ArrayBuffer.empty[Pass]

    span("run", wl.name) {
      span("pass", "check")(order(wl.queries, seed, 0).foreach(runQuery(_, check = true)))
      if (record) {
        val rec = out.resolve(s"record-${wl.name}")
        Files.createDirectories(rec)
        Files.write(rec.resolve("digests.tsv"),
          recorded.map { case (q, d) => s"$q\t$d" }.asJava)
        Files.writeString(rec.resolve("oracle_sql.json"), toJson(
          ListMap(recorded.map(_._1).filter(oracles.contains).map(q => q -> oracles(q)).toSeq: _*)))
      } else {
        for (w <- 1 to WarmPasses)
          span("pass", s"warm $w")(order(wl.queries, seed, -w).foreach(runQuery(_, check = false)))
        val tStart = System.nanoTime()
        firstPassS = System.currentTimeMillis() / 1e3 -
          ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
        heapPeakMb = 0.0
        var p = 1
        while (failures.isEmpty && (p <= 2 || (System.nanoTime() - tStart) / 1e9 < seconds)) {
          System.gc()
          tracer.foreach(_.quiesce())
          val before = tracer.map(_.snapshot()).getOrElse(Map.empty)
          val loadBefore = loadavg()
          val t0 = System.nanoTime()
          val lats = span("pass", s"pass $p")(
            order(wl.queries, seed, p).flatMap(q => runQuery(q, check = false).map(q -> _)))
          val wall = (System.nanoTime() - t0) / 1e9
          tracer.foreach(_.quiesce())
          val after = tracer.map(_.snapshot()).getOrElse(Map.empty)
          val delta = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
          passes += Pass(p, lats, wall, (loadBefore, loadavg()), delta)
          p += 1
        }
        if (trace) RepeatCounts.foreach { k =>
          val per = passes.map(_.counters.getOrElse(k, 0.0)).distinct
          if (per.size > 1) failures += "traced passes" -> s"$k differs across passes: ${per.mkString(", ")}"
        }
      }
    }

    val correct = failures.isEmpty
    val metrics: Seq[(String, Double, String)] =
      if (record || !correct || passes.isEmpty) Nil
      else if (!trace) endToEnd(wl, passes.map(p => (p.wall, p.latencies)).toSeq, setupSecs.toSeq)
      else perLayer(passes.map(p => (p.wall, p.counters)).toSeq) ++
        Seq(("driver.heap_peak_mb", heapPeakMb, "MB")) ++ functionCosts(spark, data)

    val lats = passes.flatMap(_.latencies.map(_._2)).sorted
    val artifact = ListMap(
      "workload" -> wl.name,
      "seed" -> seed,
      "trace" -> (if (trace) 1 else 0),
      "data" -> data,
      "stamp" -> ListMap(
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "cpus" -> Cpus,
        "xmx_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
        "java" -> System.getProperty("java.version"),
        "spark" -> spark.version,
        "commit" -> opt.getOrElse("commit", "unknown")),
      "setup_s" -> setupSecs.toSeq,
      "jvm_start_to_first_pass_s" -> finite(firstPassS),
      "latency_samples" -> lats.length,
      "latency_tail" -> ListMap(
        "pct" -> tailPct(lats.length),
        "s" -> (if (lats.length > 10) Some(lats(lats.length - 11)) else lats.lastOption)),
      "attempted" -> attempted,
      "failures" -> ListMap(failures.toSeq: _*),
      "passes" -> passes.toSeq.map { p =>
        ListMap(
          "pass" -> p.index,
          "wall_s" -> p.wall,
          "loadavg_before" -> p.load._1,
          "loadavg_after" -> p.load._2,
          "queries" -> ListMap(p.latencies: _*),
          "counters" -> ListMap(p.counters.toSeq.sortBy(_._1): _*))
      },
      "self_s" -> ListMap(tracer.map(_.selfSeconds().toSeq.sortBy(_._1)).getOrElse(Nil): _*),
      "metrics" -> metricsMap(metrics))
    val stem = s"${wl.name}-seed$seed-trace${if (trace) 1 else 0}"
    Files.writeString(out.resolve(s"$stem.json"), toJson(artifact) + "\n")
    tracer.foreach(_.writeSpans(out.resolve(s"$stem.spans.jsonl")))
    failures.foreach { case (q, e) => System.err.println(s"[perfbench] FAILED $q: $e") }

    spark.stop()
    println(toJson(ListMap(
      "correct" -> correct,
      "attempted" -> attempted,
      "failed" -> failures.map(_._1).distinct.size,
      "metrics" -> metricsMap(metrics))))
    Console.out.flush()
    if (!correct) sys.exit(1)
  }

  /** The seed only permutes query order; pass 0 is the check pass and
    * passes -1, -2, ... the warm passes. */
  def order(queries: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(queries)

  def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim
    catch { case _: Throwable => "" }

  def readDigests(path: String): Map[String, String] =
    Files.readAllLines(Paths.get(path)).asScala.map(_.split("\t"))
      .collect { case Array(q, d) => q -> d }.toMap

  /** Order-insensitive digest of a result: row count and the exact sum
    * of a 64-bit hash per row. Columns are taken in name order and
    * floating-point values are rounded to 9 significant digits first,
    * so partial-aggregate merge order cannot change the digest. */
  def digest(df: DataFrame): String = {
    def canon(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType => format_string("%.9g", c.cast(DoubleType))
      case ArrayType(et, _) => transform(c, canon(_, et))
      case MapType(_, vt, _) => transform_values(c, (_, v) => canon(v, vt))
      case st: StructType => when(c.isNull, lit(null)).otherwise(struct(
        st.fields.toSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*))
      case _ => c
    }
    val fields = df.schema.fields.toSeq
    val named = df.toDF(fields.indices.map(i => s"c$i"): _*)
    val cols = fields.zipWithIndex.sortBy { case (f, i) => (f.name, i) }
      .map { case (f, i) => canon(col(s"c$i"), f.dataType).as(f.name) }
    val row = named.select(xxhash64(to_json(struct(cols: _*))).as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))))
      .head()
    s"${row.getLong(0)}:${Option(row.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }

  /** Highest percentile with at least ten samples beyond it. */
  def tailPct(n: Int): Double = if (n > 10) 100.0 * (n - 10) / n else 100.0

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Fixed per-query DuckDB seconds at sf0.1 (perfbench/duckdb_sf0.1.tsv). */
  lazy val duckdb: Map[String, Double] = {
    val in = getClass.getResourceAsStream("/duckdb_sf0.1.tsv")
    require(in != null, "duckdb_sf0.1.tsv missing from the benchmark classpath")
    scala.io.Source.fromInputStream(in, "UTF-8").getLines().map(_.split("\t"))
      .collect { case Array(q, s) => q -> s.toDouble }.toMap
  }

  def endToEnd(wl: Workload, passes: Seq[(Double, Seq[(String, Double)])],
               setups: Seq[Double]): Seq[(String, Double, String)] = {
    val lats = passes.flatMap(_._2.map(_._2))
    val perQuery = passes.flatMap(_._2).groupBy(_._1).map { case (q, xs) => q -> median(xs.map(_._2)) }
    val logRatios = wl.queries.map(q => math.log(perQuery(q) / duckdb(q)))
    Seq(
      ("wall_s", median(passes.map(_._1)), "s"),
      ("query_p50_s", median(lats), "s"),
      ("geomean_x_duckdb", math.exp(logRatios.sum / logRatios.length), "x"),
      ("setup_s", median(setups), "s"))
  }

  val PerLayerCounters: Seq[(String, String)] = Seq(
    "queries.build_jobs" -> "count", "queries.plan_s" -> "s",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_s" -> "s", "exec.task_cpu_s" -> "s", "exec.gc_s" -> "s",
    "exec.spill_mb" -> "MB", "shuffle.write_mb" -> "MB", "shuffle.read_mb" -> "MB",
    "shuffle.fetch_wait_s" -> "s", "operators.checkpoints" -> "count",
    "operators.checkpoint_mb" -> "MB", "driver.result_mb" -> "MB",
    "sources.read_mb" -> "MB", "sources.read_rows" -> "count", "sources.write_mb" -> "MB",
    "streaming.batches" -> "count", "streaming.plan_s" -> "s",
    "streaming.add_batch_s" -> "s", "streaming.wal_s" -> "s",
    "streaming.state_rows" -> "count", "streaming.state_mb" -> "MB",
    "streaming.state_commit_s" -> "s")

  /** Per-pass layer figures, median over the timed passes. Span-derived
    * times (`queries.build_s`, `sources.write_s`) are summed from the
    * pass's own spans, which the counters map carries under `span.*`. */
  def perLayer(passes: Seq[(Double, Map[String, Double])]): Seq[(String, Double, String)] = {
    def med(k: String): Double = median(passes.map(_._2.getOrElse(k, 0.0)))
    Seq(("traced.wall_s", median(passes.map(_._1)), "s"),
        ("queries.build_s", med("span.build_s"), "s"),
        ("sources.write_s", med("span.sink_s"), "s"),
        ("exec.overhead_s", median(passes.map { case (w, c) =>
          w - c.getOrElse("exec.task_s", 0.0) / Cpus }), "s")) ++
      PerLayerCounters.map { case (k, u) => (k, med(k), u) }
  }

  /** Keeps the timed function results observable to the JIT. */
  @volatile var blackhole = 0

  /** Direct timed calls to the pure text functions on inputs taken from
    * the tables the workloads read; nanoseconds per input row, median
    * of five sweeps. */
  def functionCosts(spark: SparkSession, data: String): Seq[(String, Double, String)] = {
    import graft.functions.{PdfOps, StringOps, VietnameseText}
    val docs = Tables.documents(spark, data)
    val texts = docs.select(col("text")).where(col("text").isNotNull)
      .orderBy("doc_id").limit(1000).collect().map(_.getString(0))
    val durations = Tables.events(spark, data).orderBy("event_id").limit(1000)
      .select(concat(floor(col("value") / 60).cast("long").cast("string"), lit(":"),
        floor(col("value") % 60).cast("long").cast("string")))
      .collect().map(_.getString(0))
    val synthPdf = {
      val owner = graft.queries.AssetQueries
      val f = owner.getClass.getDeclaredFields.find(_.getName.endsWith("synthPdf"))
        .getOrElse(throw new IllegalStateException("AssetQueries.synthPdf not found"))
      f.setAccessible(true)
      f.get(owner).asInstanceOf[org.apache.spark.sql.expressions.UserDefinedFunction]
    }
    val pdfs = docs.orderBy("doc_id").limit(200).select(synthPdf(col("doc_id")))
      .collect().map(_.getAs[Array[Byte]](0))
    def nsPerRow[A](inputs: Array[A])(f: A => Any): Double = {
      var sink = 0
      def sweep(): Double = {
        var rows = 0L
        val t0 = System.nanoTime()
        while (System.nanoTime() - t0 < 50000000L) {
          inputs.foreach(x => sink += f(x).hashCode)
          rows += inputs.length
        }
        (System.nanoTime() - t0).toDouble / rows
      }
      sweep()
      val r = median(Seq.fill(5)(sweep()))
      blackhole = sink
      r
    }
    Seq(
      ("functions.vi_process_text_ns_per_row", nsPerRow(texts)(VietnameseText.processText), "ns"),
      ("functions.sentence_split_ns_per_row", nsPerRow(texts)(StringOps.sentenceSplit(_).length), "ns"),
      ("functions.duration_seconds_ns_per_row", nsPerRow(durations)(StringOps.durationSeconds), "ns"),
      ("functions.pdf_extract_text_ns_per_row", nsPerRow(pdfs)(PdfOps.extractText), "ns"))
  }

  /** Renders maps (in their iteration order), sequences and scalars. */
  def toJson(x: Any): String =
    org.json4s.jackson.JsonMethods.compact(org.json4s.Extraction.decompose(x)(org.json4s.DefaultFormats))

  def metricsMap(ms: Seq[(String, Double, String)]): ListMap[String, ListMap[String, Any]] =
    ListMap(ms.map { case (k, v, u) => k -> ListMap("value" -> v, "unit" -> u) }: _*)

  /** Non-finite numbers have no JSON form; they are left out. */
  def finite(x: Double): Option[Double] = Some(x).filterNot(v => v.isNaN || v.isInfinite)
}
