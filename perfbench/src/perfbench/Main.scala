package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.io.Source

import graft.schemer.{InferSchema, SchemaGen, WObj, Witness, WitnessCodec}
import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

/** One call of a workload's closed loop. `check` reads the call's output
 *  and returns a failure message, or None when the output is correct. */
final case class Call(name: String, module: String, run: SparkSession => Any,
    check: Any => Option[String])

/** A workload: inputs made from the seed, a set-up touch, and the calls of
 *  one pass. */
abstract class Workload {
  /** Makes the inputs. Runs before set-up and is not timed. */
  def prepare(): Unit = ()
  /** The set-up part that reads the inputs once (footers, page cache). */
  def touch(spark: SparkSession): Unit
  def calls: Seq[Call]
  /** Rows of input one pass reads, recorded in the context line. */
  def inputRows(spark: SparkSession): Long
  def inputs: Seq[(String, Any)]
  /** Runs after each call, outside its timing. */
  def afterCall(spark: SparkSession): Unit = ()
  /** Per-layer metrics this workload adds to the traced run. */
  def layers(spark: SparkSession, tree: TraceTree, traced: Seq[CallSpan]): Map[String, Double] = Map.empty
  /** Untimed passes before the timed ones. */
  def warmPasses: Int = 3
}

object Workloads {
  /** Corpus sizes. One `hive_script` call folds the whole NDJSON corpus. */
  val InferRows = 120000L
  val InferFiles = 16
  val GroupedRows = 200000L
  val GroupedTenants = 10000
  val GroupedFiles = 8
  /** Rows of the single-threaded layer probes' sample. */
  val SampleRows = 20000

  val Names: Seq[String] = Seq("infer", "suite_sf0.01")

  def apply(name: String, seed: Long, work: String, corpus: String, expected: String): Workload =
    name match {
      case "infer" => new Together(Seq(new InferNdjson(s"$work/infer_ndjson", seed),
        new InferGrouped(s"$work/infer_grouped", seed)))
      case "suite_sf0.01" => new Suite(corpus, Suites.Sample, s"$expected/$name.tsv")
      case other => throw new IllegalArgumentException(s"unknown workload $other; known: ${Names.mkString(", ")}")
    }

  def headLines(dir: String, n: Int): IndexedSeq[String] = {
    val files = new File(dir).listFiles().filter(_.isFile).sortBy(_.getName)
    val out = mutable.ArrayBuffer.empty[String]
    for (f <- files if out.size < n) {
      val src = Source.fromFile(f, "UTF-8")
      try out ++= src.getLines().take(n - out.size) finally src.close()
    }
    out.toIndexedSeq
  }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Several workloads as one: their inputs, set-up touches and calls in
   *  turn. Each part's per-layer metrics come from its own calls. */
  final class Together(parts: Seq[Workload]) extends Workload {
    override def prepare(): Unit = parts.foreach(_.prepare())
    def touch(spark: SparkSession): Unit = parts.foreach(_.touch(spark))
    def calls: Seq[Call] = parts.flatMap(_.calls)
    def inputRows(spark: SparkSession): Long = parts.map(_.inputRows(spark)).sum
    def inputs: Seq[(String, Any)] = parts.flatMap(_.inputs)
    override def afterCall(spark: SparkSession): Unit = parts.foreach(_.afterCall(spark))
    override def layers(spark: SparkSession, tree: TraceTree, traced: Seq[CallSpan]): Map[String, Double] =
      parts.flatMap { p =>
        val own = p.calls.map(_.name).toSet
        p.layers(spark, tree, traced.filter(c => own(c.name)))
      }.toMap
    override def warmPasses: Int = parts.map(_.warmPasses).max
  }

  final class InferNdjson(dir: String, seed: Long) extends Workload {
    private var corpus: Gen.NdjsonCorpus = _
    private lazy val expectedCols = corpus.expected.columns
    override def prepare(): Unit = corpus = Gen.ndjson(dir, seed, InferRows, InferFiles)
    def touch(spark: SparkSession): Unit = spark.read.textFile(dir).count()
    def calls: Seq[Call] = Seq(Call("hive_script", "schemer",
      spark => SchemaGen.hiveScript(spark, dir, "bench"),
      out => Ddl.diff(expectedCols, Ddl.tableColumns(out.asInstanceOf[String]))))
    def inputRows(spark: SparkSession): Long = corpus.rows
    def inputs: Seq[(String, Any)] =
      Seq("ndjson_rows" -> corpus.rows, "ndjson_files" -> corpus.files, "ndjson_bytes" -> corpus.bytes,
        "ndjson_columns" -> expectedCols.size)

    override def layers(spark: SparkSession, tree: TraceTree, traced: Seq[CallSpan]): Map[String, Double] = {
      val scan = Stats.median((0 until 3).map { _ =>
        val t0 = System.nanoTime(); spark.read.textFile(dir).count(); (System.nanoTime() - t0) / 1e9
      })
      val fold = Probes.fold(headLines(dir, SampleRows))
      val witness = SchemaGen.witness(spark, dir)
      val folds = traced.flatMap(c => tree.stagesOf(c).sortBy(-_.taskRunMs.size).headOption.map(c -> _))
      Map(
        "schemer.scan_s" -> scan,
        "schemer.parse_us" -> fold.parseUs,
        "schemer.build_us" -> fold.buildUs,
        "schemer.merge_us" -> fold.mergeUs,
        "schemer.fold_task_s" -> mean(folds.map(_._2.runMs / 1000.0)),
        "schemer.reduce_s" -> mean(folds.map { case (c, s) => c.wallS - (s.completeMs - s.submitMs) / 1000.0 }),
        "schemer.render_ms" -> Probes.renderMs(witness),
        "schemer.witness_bytes" -> WitnessCodec.write(witness).length.toDouble,
        "schemer.task_skew" -> Stats.median(folds.map(_._2.skew)))
    }
  }

  final class InferGrouped(dir: String, seed: Long) extends Workload {
    private var table: Gen.GroupedTable = _
    private lazy val expected: Map[Int, Map[String, String]] =
      table.expected.zipWithIndex.collect { case (e, t) if e.fields.nonEmpty => t -> e.columns }.toMap
    override def prepare(): Unit = table = Gen.grouped(dir, seed, GroupedRows, GroupedTenants, GroupedFiles)
    private def frame(spark: SparkSession) =
      spark.read.option("sep", "\t").option("quote", "\u0000").schema("tenant INT, doc STRING").csv(dir)
    def touch(spark: SparkSession): Unit = frame(spark).count()
    def calls: Seq[Call] = Seq(Call("grouped_column_defs", "schemer",
      spark => frame(spark).groupBy("tenant")
        .agg(InferSchema.infer_column_defs(col("doc")).as("defs")).collect(),
      out => check(out.asInstanceOf[Array[Row]])))

    private def check(rows: Array[Row]): Option[String] =
      if (rows.length != expected.size) Some(s"expected ${expected.size} tenants, got ${rows.length}")
      else rows.iterator.map { r =>
        val t = r.getInt(0)
        expected.get(t) match {
          case None => Some(s"unexpected tenant $t")
          case Some(cols) => Ddl.diff(cols, Ddl.definition(r.getString(1))).map(d => s"tenant $t: $d")
        }
      }.collectFirst { case Some(e) => e }

    def inputRows(spark: SparkSession): Long = table.rows
    def inputs: Seq[(String, Any)] =
      Seq("grouped_rows" -> table.rows, "grouped_tenants" -> expected.size, "grouped_files" -> GroupedFiles,
        "grouped_bytes" -> table.bytes)

    override def layers(spark: SparkSession, tree: TraceTree, traced: Seq[CallSpan]): Map[String, Double] = {
      val byTenant = mutable.LinkedHashMap.empty[String, Witness]
      for (line <- headLines(dir, SampleRows)) {
        val tab = line.indexOf('\t')
        val t = line.substring(0, tab)
        byTenant(t) = Witness.merge(byTenant.getOrElse(t, WObj.empty), Witness.ofJson(line.substring(tab + 1)))
      }
      val (write, read) = Probes.codec(byTenant.values.toIndexedSeq)
      val l = traced.map(tree.layer).foldLeft(Layer.zero)(_ + _) / math.max(1, traced.size)
      Map(
        "agg.task_s" -> l.taskS,
        "agg.gc_s" -> l.gcS,
        "agg.driver_s" -> l.driverS,
        "agg.shuffle_mb" -> l.shuffleMb,
        "agg.spill_mb" -> l.spillMb,
        "agg.codec_write_us" -> write,
        "agg.codec_read_us" -> read)
    }
  }

  /** A fixed list of `SparkEntry.queries`, run in name order, each checked
   *  against its pinned row count. After the warm-up passes the queries reuse
   *  the per-corpus artifacts those memoized, as in a long-lived session. */
  final class Suite(dir: String, queries: Seq[String], pinnedPath: String) extends Workload {
    queries.foreach(q => require(Suites.moduleOf.contains(q), s"$q is in no module's defs"))
    private lazy val pinned: Map[String, Long] = {
      val src = Source.fromFile(pinnedPath, "UTF-8")
      try src.getLines().filter(_.nonEmpty).map { l =>
        val Array(q, n) = l.split('\t'); q -> n.toLong
      }.toMap finally src.close()
    }
    private val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")

    /** Reads every table's footers through Spark and its bytes into the
     *  page cache, so first-touch I/O lands in set-up. */
    def touch(spark: SparkSession): Unit = tables.foreach { t =>
      val path = Paths.get(s"$dir/$t.parquet")
      Files.walk(path).filter(Files.isRegularFile(_)).forEach(f => Files.readAllBytes(f))
      spark.read.parquet(path.toString).count()
    }

    def calls: Seq[Call] = queries.map { q =>
      val fn = graft.SparkEntry.queries(q)
      Call(q, Suites.moduleOf(q), spark => fn(spark, dir).count(), out => pinned.get(q) match {
        case Some(n) if n == out.asInstanceOf[Long] => None
        case Some(n) => Some(s"expected $n rows, got $out")
        case None => Some(s"no pinned row count in $pinnedPath")
      })
    }

    def inputRows(spark: SparkSession): Long =
      tables.map(t => spark.read.parquet(s"$dir/$t.parquet").count()).sum
    def inputs: Seq[(String, Any)] = Seq("queries" -> queries.size, "corpus" -> new File(dir).getName)

    /** Drops frames a query persisted, as `graft.Bench` does. */
    override def afterCall(spark: SparkSession): Unit = spark.catalog.clearCache()
    /** The queries' driver code (analysis, optimization, planning) is still
     *  being compiled by the JIT after six passes. */
    override def warmPasses: Int = 8
  }
}

object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, corpus: String, expected: String, pin: Boolean, context: Map[String, String])

  def parseOpts(args: Array[String]): Opts = {
    require(args.length % 2 == 0, "arguments come in --key value pairs")
    val kv = args.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"bad option $k"); k.drop(2) -> v
    }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(get("workload"), get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      get("work"), get("corpus"), get("expected"), kv.get("pin").contains("1"),
      kv.collect { case (k, v) if k.startsWith("ctx.") => k.drop(4) -> v })
  }

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      // file scans split into at least 16 parts, one per corpus file of
      // the NDJSON corpus, so each of the 4 threads takes several
      .config("spark.sql.files.minPartitionNum", "16")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Set-ups per run; `setup_s` is their median. */
  val SetupRounds = 5

  final case class Pass(traced: Boolean, calls: Seq[CallSpan]) {
    def wallS: Double = calls.map(_.wallS).sum
    def cpuS: Double = calls.map(_.cpuS).sum
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of every thread of this JVM, in nanoseconds. */
  def processCpuNs(): Long = os.getProcessCpuTime

  def main(args: Array[String]): Unit = {
    val o = parseOpts(args)
    val steal0 = stealS()
    val w = Workloads(o.workload, o.seed, o.work, o.corpus, o.expected)
    val genT0 = System.nanoTime()
    w.prepare()
    val genS = (System.nanoTime() - genT0) / 1e9
    val launchToSetup = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3 - genS

    // Set-up, several times: the first round also loads Spark's classes.
    val setupRounds = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until SetupRounds) {
      val t0 = System.nanoTime()
      spark = session(o.work)
      spark.range(1000000).selectExpr("sum(id)").collect()
      w.touch(spark)
      setupRounds += (System.nanoTime() - t0) / 1e9
      if (i < SetupRounds - 1) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
    }
    val firstCallS = launchToSetup + setupRounds.head

    if (o.pin) { pin(spark, w, s"${o.expected}/${o.workload}.tsv"); spark.stop(); return }

    val rows = w.inputRows(spark)
    val sc = spark.sparkContext
    val tracer = new Tracer
    var attempted = 0
    var failed = 0

    def runPass(index: Int, traced: Boolean): Pass = {
      System.gc()
      if (traced) { sc.addSparkListener(tracer); spark.listenerManager.register(tracer) }
      val spans = w.calls.map { c =>
        val id = s"p$index:${c.name}"
        if (traced) { tracer.currentOp = id; sc.setJobGroup(id, c.name) }
        val startMs = System.currentTimeMillis()
        val cpu0 = processCpuNs()
        val t0 = System.nanoTime()
        val out = try Right(c.run(spark)) catch { case e: Throwable => Left(e) }
        val wall = (System.nanoTime() - t0) / 1e9
        val cpu = (processCpuNs() - cpu0) / 1e9
        val endMs = System.currentTimeMillis()
        if (traced) { Bus.drain(sc); sc.clearJobGroup() }
        w.afterCall(spark)
        val err = out.fold(e => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"), c.check)
        attempted += 1
        err.foreach { e =>
          failed += 1
          System.err.println(s"FAILED ${c.name}: ${e.replaceAll("\\s+", " ").take(300)}")
        }
        CallSpan(id, index, c.name, c.module, startMs, endMs, wall, cpu, err.isEmpty)
      }
      if (traced) { sc.removeSparkListener(tracer); spark.listenerManager.unregister(tracer) }
      Pass(traced, spans)
    }

    // Every pass is followed by the fixed reference job, run on the same
    // cores in the same JVM, so timed pass i lies between probes i and i + 1.
    // Warm-up passes: the first loads classes and compiles generated code,
    // the next let the JIT compile the Spark driver's hot paths (and the
    // reference job's).
    val probes = mutable.ArrayBuffer.empty[Double]
    val warm = (-w.warmPasses to -1).map { i =>
      val p = runPass(i, traced = false)
      probes.clear(); probes += Probes.host(spark)
      p
    }
    val passes = mutable.ArrayBuffer.empty[Pass]
    val loopT0 = System.nanoTime()
    def elapsed = (System.nanoTime() - loopT0) / 1e9
    // Closed loop, one client. A traced run interleaves untraced and traced
    // passes in the order U T T U, so both kinds see the same host state
    // and the same JIT warm-up; their difference is the tracing overhead.
    while (passes.isEmpty || elapsed < o.seconds || (o.trace && passes.size < 4)) {
      val i = passes.size
      passes += runPass(i, traced = o.trace && (i % 4 == 1 || i % 4 == 2))
      probes += Probes.host(spark)
    }

    val plain = passes.filterNot(_.traced)
    // per call, the median over untraced passes; a pass is their sum. A call
    // that never passed its check leaves no plausible pass time: NaN, printed 0.
    val callMedians = plain.flatMap(_.calls).filter(_.ok).groupBy(_.name)
      .map { case (n, cs) => n -> Stats.median(cs.map(_.wallS).toSeq) }
    val passS = if (w.calls.forall(c => callMedians.contains(c.name))) callMedians.values.sum else Double.NaN
    // Each correct untraced pass over the mean of the reference jobs on
    // either side of it: the host's speed drifts by tens of percent within
    // minutes, and the reference, which runs none of the program's code,
    // drifts with it.
    val refRatios = passes.indices.collect {
      case i if !passes(i).traced && passes(i).calls.forall(_.ok) =>
        passes(i).wallS / ((probes(i) + probes(i + 1)) / 2)
    }
    val values = mutable.HashMap.empty[String, Double]
    if (!o.trace) {
      values("setup_s") = Stats.median(setupRounds.toSeq)
      values("pass_ref") = if (refRatios.isEmpty) Double.NaN else Stats.median(refRatios)
    } else {
      val traced = passes.filter(_.traced).toSeq
      val tree = new TraceTree(tracer, traced.flatMap(_.calls))
      val perPass = traced.size
      val byModule = Suites.Measured.map { m =>
        m -> (tree.calls.filter(_.module == m).map(tree.layer).foldLeft(Layer.zero)(_ + _) / perPass)
      }
      val all = tree.calls.map(tree.layer).foldLeft(Layer.zero)(_ + _) / perPass
      // attribution must not drop a query: module walls add up to the pass
      val moduleWall = byModule.map(_._2.wallS).sum
      val suiteWall = traced.map(_.wallS).sum / perPass
      if (tree.calls.forall(c => Suites.ModuleNames.contains(c.module)) && math.abs(moduleWall - suiteWall) > 1e-6) {
        failed += 1
        System.err.println(s"FAILED attribution: module walls sum to $moduleWall s, the pass to $suiteWall s")
      }
      for ((m, l) <- byModule) values ++= Seq(
        s"$m.wall_s" -> l.wallS, s"$m.driver_s" -> l.driverS, s"$m.task_s" -> l.taskS,
        s"$m.gc_s" -> l.gcS, s"$m.stages" -> l.stages.toDouble, s"$m.shuffle_mb" -> l.shuffleMb,
        s"$m.spill_mb" -> l.spillMb, s"$m.scan_mb" -> l.scanMb)
      values ++= Seq("suite.plan_s" -> all.planS, "suite.jobs" -> all.jobs.toDouble,
        "suite.exchanges" -> all.exchanges.toDouble, "suite.task_skew" -> tree.taskSkew(tree.calls))
      val own = w.layers(spark, tree, tree.calls)
      values ++= own
      val tracedS = traced.flatMap(_.calls).groupBy(_.name).values
        .map(cs => Stats.median(cs.map(_.wallS))).sum
      values("trace.overhead_pct") = (tracedS - passS) / passS * 100
      printTable(byModule, all, own, tracedS, passS)
      writeFile(s"${o.work}/trace_${o.workload}.json", tree.json(o.workload))
    }

    val ctx = Seq(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "nproc" -> Runtime.getRuntime.availableProcessors, "spark_threads" -> 4,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
      "host_probe_s" -> Stats.median(probes.toSeq), "rows_per_pass" -> rows, "generate_s" -> genS,
      "first_call_s" -> firstCallS, "setup_rounds_s" -> setupRounds.mkString("[", ",", "]"),
      "warm_pass_s" -> warm.map(_.wallS).mkString("[", ",", "]"),
      "passes" -> passes.size, "pass_s" -> passes.map(_.wallS).mkString("[", ",", "]"),
      "pass_cpu_s" -> passes.map(_.cpuS).mkString("[", ",", "]"),
      "probe_s" -> probes.mkString("[", ",", "]"), "pass_median_s" -> passS,
      "peak_rss_mb" -> peakRssMb(), "cpu_steal_s" -> (stealS() - steal0),
      "call_s" -> callTimes(plain.flatMap(_.calls).toSeq),
      "warm_call_s" -> callTimes(warm.head.calls)) ++
      w.inputs.map { case (k, v) => s"input_$k" -> v } ++ o.context.toSeq
    spark.stop()

    println("context " + json(ctx))
    // a layer the workload does not exercise reads 0
    val printed = if (o.trace) Metrics.PerLayer.map { case (k, u) => (k, values.getOrElse(k, 0.0), u) }
      else Metrics.EndToEnd.map { case (k, u) => (k, values(k), u) }
    val result = s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      printed.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ") + "}}"
    println(result)
  }

  /** Records the row count of every query of a suite workload from one pass. */
  private def pin(spark: SparkSession, w: Workload, path: String): Unit = {
    val lines = w.calls.map { c => s"${c.name}\t${c.run(spark)}" }
    writeFile(path, lines.mkString("", "\n", "\n"))
    System.err.println(s"pinned ${lines.size} row counts to $path")
  }

  /** Median wall time of each call, by name, as a JSON object. */
  private def callTimes(calls: Seq[CallSpan]): String =
    calls.groupBy(_.name).toSeq.sortBy(_._1)
      .map { case (n, cs) => s""""$n": ${num(Stats.median(cs.map(_.wallS)))}""" }
      .mkString("{", ", ", "}")

  /** CPU time the host's hypervisor took from this machine, in seconds:
   *  the `steal` column of /proc/stat, summed over CPUs. */
  private def stealS(): Double = {
    val src = Source.fromFile("/proc/stat")
    try src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+")(8).toDouble / 100).getOrElse(0.0)
    finally src.close()
  }

  private def peakRssMb(): Double = {
    val src = Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  private def printTable(byModule: Seq[(String, Layer)], all: Layer, own: Map[String, Double],
      tracedS: Double, plainS: Double): Unit = {
    println(f"${"layer"}%-22s ${"wall_s"}%8s ${"self_s"}%8s ${"task_s"}%8s ${"gc_s"}%7s ${"stages"}%6s ${"shuf_mb"}%8s ${"spill_mb"}%8s ${"scan_mb"}%8s")
    for ((m, l) <- byModule.filter(_._2.wallS > 0) :+ ("all calls" -> all))
      println(f"$m%-22s ${l.wallS}%8.3f ${l.driverS}%8.3f ${l.taskS}%8.3f ${l.gcS}%7.3f ${l.stages}%6d ${l.shuffleMb}%8.2f ${l.spillMb}%8.2f ${l.scanMb}%8.2f")
    println(f"plan_s ${all.planS}%.3f  jobs ${all.jobs}  exchanges ${all.exchanges}")
    for ((k, v) <- own.toSeq.sortBy(_._1)) println(f"$k%-24s $v%.4f")
    println(f"tracing overhead: traced pass $tracedS%.3f s, untraced pass $plainS%.3f s")
  }

  private def writeFile(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8))

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def json(kv: Seq[(String, Any)]): String = kv.map {
    case (k, v: String) if v.startsWith("[") || v.startsWith("{") => s""""$k": $v"""
    case (k, v: String) => s""""$k": "${v.replace("\\", "\\\\").replace("\"", "\\\"")}""""
    case (k, v: Double) => s""""$k": ${num(v)}"""
    case (k, v) => s""""$k": $v"""
  }.mkString("{", ", ", "}")
}

/** Every metric the benchmark prints, with its unit, in print order: the
 *  metrics BENCHMARK.json lists. */
object Metrics {
  val EndToEnd: Seq[(String, String)] =
    Seq("setup_s" -> "s", "pass_ref" -> "ratio")

  private val ModuleFields = Seq("wall_s" -> "s", "driver_s" -> "s", "task_s" -> "s",
    "gc_s" -> "s", "stages" -> "count", "shuffle_mb" -> "MB", "spill_mb" -> "MB", "scan_mb" -> "MB")

  val PerLayer: Seq[(String, String)] =
    Suites.Measured.flatMap(m => ModuleFields.map { case (f, u) => s"$m.$f" -> u }) ++
    Seq("suite.plan_s" -> "s", "suite.jobs" -> "count", "suite.exchanges" -> "count",
      "suite.task_skew" -> "ratio") ++
    Seq("scan_s" -> "s", "parse_us" -> "us", "build_us" -> "us", "merge_us" -> "us",
      "fold_task_s" -> "s", "reduce_s" -> "s", "render_ms" -> "ms", "witness_bytes" -> "bytes",
      "task_skew" -> "ratio").map { case (f, u) => s"schemer.$f" -> u } ++
    Seq("task_s" -> "s", "gc_s" -> "s", "driver_s" -> "s", "shuffle_mb" -> "MB", "spill_mb" -> "MB",
      "codec_write_us" -> "us", "codec_read_us" -> "us").map { case (f, u) => s"agg.$f" -> u } :+
    ("trace.overhead_pct" -> "%")
}
