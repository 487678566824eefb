package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.{GraftSession, SparkEntry, Tables}
import graft.operators.Dedup
import graft.plans.DedupCatalog
import graft.streaming.{DocScreen, EventStream}

/** One benchmark run in one JVM: set up the session as the library
  * ships it, run one cold pass and `warmPasses` warm passes of the
  * workload's ops from a single closed-loop client thread, and write
  * every raw measurement to `<runDir>/result.json` for `run.py` to
  * reduce.
  *
  * usage: Harness <workload> <inputDir> <runDir> <warmPasses> <trace 0|1> <seed>
  */
object Harness {

  /** Gate lists of the two query workloads; see README.md for why. */
  val Gates: Map[String, Seq[String]] = Map(
    "telemetry_queries" -> Seq(
      "dq01_scan_filter_project", "dq04_semi_join", "dq13_revenue_join", "dq22_rollup",
      "dq24_sessionization", "dq28_window_frame", "ig_mac_format", "ig_ip_cksum",
      "ig_dns_decode", "ig_xtea_roundtrip", "ig_session_stats", "ig_bucketed_sessions"),
    "curation_batch" -> Seq(
      "dd_minhash_lsh", "dd_neardup_clusters", "ann_topk_ivf_trained", "mm_phash_dedup",
      "tx_dup_spans", "tx_lm_threshold", "tx_fingerprint"))

  /** Oracle gate whose answer the ingest loop's screens must reproduce. */
  val IngestOracle = "dd_incremental_neardup"

  final case class Op(name: String, pass: Int, seconds: Double, ok: Boolean, error: String)
  final case class Span(name: String, parent: String, pass: Int, startNs: Long, endNs: Long)

  def main(args: Array[String]): Unit = {
    val Array(workload, in, runDir, warmArg, traceArg, seedArg) = args
    val traced = traceArg == "1"
    val tmp = sys.props("java.io.tmpdir")
    val setups = ArrayBuffer[Map[String, Double]]()

    val (spark, first) = setup(in)
    setups += first
    val ctx = new Ctx(spark, in, tmp, Trace.attach(spark, traced), traced)
    val w: Workload = workload match {
      case "incremental_ingest" => new Ingest(ctx)
      case g if Gates.contains(g) => new GateWorkload(ctx, Gates(g), seedArg.toLong)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val passWall = ArrayBuffer[Double]()
    for (pass <- 1 to 1 + warmArg.toInt) {
      ctx.trace.begin(pass)
      val cg = ctx.trace.codegen()
      val checks = ctx.checkNs
      val ps = System.nanoTime
      w.runPass(pass)
      passWall += (System.nanoTime - ps - (ctx.checkNs - checks)) / 1e9
      if (traced) ctx.trace.addCodegen(pass, cg)
      if (pass == 1) ctx.stored = w.storedBytes()
    }
    val rssMb = vmHwmMb()

    val layers = mutable.LinkedHashMap[String, Any]()
    if (traced) {
      ctx.trace.drain()
      layers ++= ctx.layerMetrics(passWall.toSeq)
      layers ++= w.layerMetrics()
      layers ++= Kernels.run(ctx.texts(), ctx.vectors())
    }
    val checks = ctx.writeDumps(s"$runDir/dumps")
    spark.stop()
    for (_ <- 1 to 2) {
      val (s, m) = setup(in)
      setups += m
      s.stop()
    }

    val out = Json.obj(
      "workload" -> workload,
      "setups" -> setups.map(m => Json.obj(m.toSeq: _*)),
      "pass_wall_s" -> passWall,
      "ops" -> ctx.ops.map(o => Json.obj("name" -> o.name, "pass" -> o.pass,
        "s" -> o.seconds, "ok" -> o.ok, "error" -> o.error)),
      "checks" -> checks,
      "oracle_sql" -> Json.obj(checks.map(_._2).distinct.map(k => k -> SparkEntry.oracleSql(k)): _*),
      "rss_peak_mb" -> rssMb,
      "stored_bytes" -> ctx.stored,
      "layers" -> Json.obj(layers.toSeq: _*),
      "spans" -> ctx.spans.map(s => Json.obj("name" -> s.name, "parent" -> s.parent,
        "pass" -> s.pass, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    Files.write(Paths.get(s"$runDir/result.json"), Json.render(out).getBytes(UTF_8))
  }

  /** Session build, function registration and opening every input
    * table — what a user pays before the first op.
    */
  def setup(in: String): (SparkSession, Map[String, Double]) = {
    val t0 = System.nanoTime
    val spark = GraftSession.builder("perfbench").getOrCreate()
    val t1 = System.nanoTime
    GraftSession.registerAll(spark)
    val t2 = System.nanoTime
    Tables.names.foreach { n =>
      if (n == "events") Tables.events(spark, in) else spark.read.parquet(Tables.path(in, n))
    }
    val t3 = System.nanoTime
    (spark, Map("build_s" -> (t1 - t0) / 1e9, "register_s" -> (t2 - t1) / 1e9,
      "open_s" -> (t3 - t2) / 1e9, "total_s" -> (t3 - t0) / 1e9))
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def bytesUnder(dir: String): Long = {
    val f = new File(dir)
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(c => bytesUnder(c.getPath)).sum).getOrElse(0L)
  }

  def filesUnder(dir: String): Long = {
    val f = new File(dir)
    if (f.isFile) (if (f.getName.endsWith(".parquet")) 1L else 0L)
    else Option(f.listFiles).map(_.map(c => filesUnder(c.getPath)).sum).getOrElse(0L)
  }

  /** Order-independent digest of a result: every row rendered with its
    * columns in schema order, the rendered rows sorted, then hashed.
    */
  def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(render).sorted.foreach(r => md.update((r + "\n").getBytes(UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }

  private def render(v: Any): String = v match {
    case null => "null"
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }
}

/** Measurement state shared by the workloads of one run. */
final class Ctx(val spark: SparkSession, val in: String, val tmp: String,
    val trace: Trace, val traced: Boolean) {
  import Harness._

  val ops = ArrayBuffer[Op]()
  val spans = ArrayBuffer[Span]()
  var stored = 0L
  /** Time spent checking results; pass wall times exclude it. */
  var checkNs = 0L
  private val firstDigest = mutable.Map[String, String]()
  private val dumps = mutable.LinkedHashMap[String, (Array[Row], StructType, String)]()

  /** Run `f` outside the measured time and the layer counts of the pass. */
  def untimed[A](f: => A): A = {
    val s = System.nanoTime
    val pass = trace.pass
    trace.begin(0)
    try f finally {
      trace.begin(pass)
      checkNs += System.nanoTime - s
    }
  }

  /** Time `f` as one op; the result is checked afterwards, untimed. */
  def op(name: String, pass: Int)(f: => Unit): Unit = {
    val s = System.nanoTime
    val err = try { f; "" } catch { case e: Throwable => e.toString }
    val e = System.nanoTime
    if (traced) spans += Span(name, "", pass, s, e)
    ops += Op(name, pass, (e - s) / 1e9, err.isEmpty, err)
  }

  /** Check a result: its first digest must pass the oracle (dumped and
    * compared by run.py), and every later result must repeat it.
    */
  def check(name: String, rows: Array[Row], schema: StructType, oracle: String): Boolean = untimed {
    val d = digest(rows)
    firstDigest.get(name) match {
      case None =>
        firstDigest(name) = d
        dumps(name) = (rows, schema, oracle)
        true
      case Some(f) => f == d
    }
  }

  /** Mark the last `n` ops failed with `why`. */
  def fail(n: Int, why: String): Unit =
    for (i <- ops.size - n until ops.size)
      ops(i) = ops(i).copy(ok = false, error = if (ops(i).error.nonEmpty) ops(i).error else why)

  /** Write each first result as parquet for the oracle compare. */
  def writeDumps(dir: String): Seq[(String, String)] =
    dumps.toSeq.map { case (name, (rows, schema, oracle)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$name")
      (name, oracle)
    }

  /** Medians over warm passes of the per-pass layer counters. */
  def layerMetrics(passWall: Seq[Double]): Seq[(String, Double)] = {
    val warm = passWall.indices.map(_ + 1).filter(_ > 1)
    def at(name: String, p: Int) = trace.perPass.get(name).flatMap(_.get(p)).getOrElse(0.0)
    def warmMedian(f: Int => Double) = median(warm.map(f))
    val cores = spark.sparkContext.defaultParallelism
    val summed = Seq("plan.optimize_s", "plan.queries", "plan.nodes", "plan.exchanges",
      "stage.jobs", "stage.tasks", "stage.failed_tasks", "stage.task_busy_s",
      "stage.shuffle_write_bytes", "stage.shuffle_read_bytes", "stage.spill_bytes")
    summed.map(n => n -> warmMedian(at(n, _))) ++ Seq(
      "plan.codegen_compiles" -> at("plan.codegen_compiles", 1),
      "plan.codegen_compile_s" -> at("plan.codegen_compile_s", 1),
      "stage.task_skew" -> warmMedian(p =>
        at("stage.task_skew_sum", p) / math.max(1.0, at("stage.multi_task_stages", p))),
      "stage.idle_core_share" -> warmMedian(p =>
        1.0 - at("stage.task_busy_s", p) / (cores * passWall(p - 1))),
      "trace.warm_run_s" -> warmMedian(p => passWall(p - 1)))
  }

  /** The `operators` layer: the MinHash-LSH pair step and connected
    * components over the run's documents, timed as direct operator
    * calls after the passes.
    */
  def operatorSpans(): Seq[(String, Double)] = {
    def time(f: => Unit): Double = { val s = System.nanoTime; f; (System.nanoTime - s) / 1e9 }
    var pairs: DataFrame = null
    val lsh = time { pairs = Dedup.minhashLsh(spark, in); pairs.collect() }
    val cc = time { Dedup.connectedComponents(pairs.select("i", "j")).collect() }
    Seq("operators.dedup_pairs_s" -> lsh, "operators.dedup_cc_s" -> cc)
  }

  def warmOps(name: String): Seq[Op] = ops.filter(o => o.pass > 1 && o.name == name).toSeq

  def texts(): IndexedSeq[String] =
    spark.read.parquet(Tables.path(in, "documents")).select("text").collect()
      .flatMap(r => Option(r.getString(0))).toIndexedSeq

  def vectors(): IndexedSeq[Array[Float]] =
    spark.read.parquet(Tables.path(in, "embeddings")).select("embedding").collect()
      .flatMap(r => Option(r.getSeq[Float](0)).map(_.toArray)).toIndexedSeq

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

trait Workload {
  def runPass(pass: Int): Unit
  /** Bytes the workload's own writes left on disk after the first pass. */
  def storedBytes(): Long
  /** Layer metrics only this workload exercises (traced runs). */
  def layerMetrics(): Seq[(String, Double)]
}

/** Gate calls through `SparkEntry.queries`: each op builds the gate's
  * DataFrame and collects every row and column of it. The cold pass
  * runs the gates in list order, so the gate that pays the JVM's
  * first-query cost is the same in every run; each warm pass runs them
  * in a seeded order, never starting with the gate that ended the
  * previous pass.
  */
final class GateWorkload(ctx: Ctx, gates: Seq[String], seed: Long) extends Workload {
  import Harness._
  private val queries = SparkEntry.queries
  private var last = ""

  def runPass(pass: Int): Unit = {
    val shuffled = if (pass == 1) gates else new scala.util.Random(seed * 1000003L + pass).shuffle(gates)
    val order = if (shuffled.head == last) shuffled.tail :+ shuffled.head else shuffled
    last = order.last
    order.foreach { name =>
      var df: DataFrame = null
      var rows: Array[Row] = null
      ctx.op(name, pass) {
        val b = System.nanoTime
        df = queries(name)(ctx.spark, ctx.in)
        if (ctx.traced) ctx.spans += Span("queries.build", name, pass, b, System.nanoTime)
        rows = df.collect()
      }
      if (rows != null && !ctx.check(name, rows, df.schema, name))
        ctx.fail(1, "result differs from the first, oracle-checked result")
    }
  }

  def storedBytes(): Long = Harness.bytesUnder(ctx.tmp) + Harness.bytesUnder(warehouse)

  private def warehouse = ctx.spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")

  def layerMetrics(): Seq[(String, Double)] = {
    val build = ctx.spans.filter(s => s.name == "queries.build" && s.pass > 1)
    val passes = build.map(_.pass).distinct
    val perPass = passes.map(p => build.filter(_.pass == p).map(s => (s.endNs - s.startNs) / 1e9).sum)
    Seq("queries.build_s" -> ctx.median(perPass.toSeq)) ++
      (if (gates.contains("dd_minhash_lsh")) ctx.operatorSpans() else Nil)
  }
}

/** The write path: land a screening catalog, append history batches,
  * screen arriving document files as a stream, ingest arriving event
  * files as a stream, compact, screen again and expire. Each pass works
  * on a fresh catalog and fresh sinks, so no pass reuses another's
  * landing.
  *
  * The history is all even doc ids and the arrivals are the odd ids with
  * planted near-dups, so both screens must return exactly what the
  * `dd_incremental_neardup` oracle computes over the same documents.
  */
final class Ingest(ctx: Ctx) extends Workload {
  import Harness._
  private val spark = ctx.spark
  private val dir = s"${ctx.in}/ingest"
  private def read(p: String) = spark.read.parquet(p)
  private val docSchema = read(s"$dir/arrive").schema
  private val eventSchema = read(s"$dir/events").schema
  private var storedAtRetention = 0L
  private val files = mutable.Map[String, ArrayBuffer[Double]]()

  private def note(k: String, v: Double): Unit = files.getOrElseUpdate(k, ArrayBuffer()) += v

  private def stream(name: String, pass: Int)(start: => Unit): Unit = {
    val before = ctx.trace.synchronized(ctx.trace.progress.size)
    val n = ctx.trace.terminatedCount
    val s = System.nanoTime
    val err = try { start; "" } catch { case e: Throwable => e.toString }
    val e = System.nanoTime
    // a query that failed to start posts no terminated event
    if (err.isEmpty) ctx.trace.awaitTerminated(n + 1)
    if (ctx.traced) ctx.spans += Span(name, "", pass, s, e)
    val batches = ctx.trace.synchronized(ctx.trace.progress.drop(before).toSeq)
      .filter(_.numInputRows > 0)
    if (batches.isEmpty) ctx.ops += Op(name, pass, (e - s) / 1e9, false, s"no micro-batch ran: $err")
    batches.foreach(b => ctx.ops += Op(name, pass, b.batchDuration / 1e3, err.isEmpty, err))
  }

  def runPass(pass: Int): Unit = {
    val base = s"${ctx.tmp}/ingest_$pass"
    val hist = (0 to 1).map(i => read(s"$dir/hist_$i.parquet"))
    var cat: DedupCatalog.Handle = null
    ctx.op("catalog_land", pass) {
      cat = DedupCatalog.land(spark, hist(0), s"bench_$pass", base = s"$base/catalog")
    }
    val landed = ctx.untimed(filesUnder(s"$base/catalog"))
    ctx.op("catalog_append", pass) { DedupCatalog.append(spark, hist(1), cat, 1) }
    ctx.untimed {
      note("plans.catalog_files", filesUnder(s"$base/catalog"))
      note("plans.files_per_append", filesUnder(s"$base/catalog") - landed)
    }

    stream("screen_batch", pass) {
      DocScreen.screenAgainstCatalog(spark, s"$dir/arrive", docSchema, cat,
        s"$base/verdicts", s"$base/ck_screen")
    }
    val verdicts = read(s"$base/verdicts").drop("batch_id")
    val nScreen = ctx.ops.count(o => o.pass == pass && o.name == "screen_batch")
    if (!ctx.check("screen_batch", ctx.untimed(verdicts.collect()), verdicts.schema, IngestOracle))
      ctx.fail(nScreen, "stream verdicts differ from the first, oracle-checked verdicts")

    stream("event_batch", pass) {
      EventStream.incrementalIngest(spark, s"$dir/events", eventSchema,
        s"$base/events_sink", s"$base/ck_events")
    }
    val sunk = spark.read.schema(eventSchema).parquet(s"$base/events_sink")
    val arrived = read(s"$dir/events")
    if (!ctx.untimed(sunk.exceptAll(arrived).isEmpty && arrived.exceptAll(sunk).isEmpty))
      ctx.fail(ctx.ops.count(o => o.pass == pass && o.name == "event_batch"),
        "event sink differs from the arriving events")

    ctx.op("catalog_compact", pass) { DedupCatalog.compact(spark, cat, 1) }
    ctx.untimed(note("plans.catalog_files_compacted", filesUnder(s"$base/catalog")))
    var rows: Array[Row] = null
    var schema: StructType = null
    ctx.op("catalog_screen", pass) {
      val df = DedupCatalog.screen(spark, read(s"$dir/arrive"), cat)
      rows = df.collect()
      schema = df.schema
    }
    if (rows != null && !ctx.check("catalog_screen", rows, schema, IngestOracle))
      ctx.fail(1, "post-compaction verdicts differ from the first, oracle-checked verdicts")
    ctx.untimed {
      note("plans.bytes_written", bytesUnder(base))
      if (pass == 1) storedAtRetention = bytesUnder(base)
    }

    ctx.op("catalog_expire", pass) { DedupCatalog.expire(spark, cat, 2) }
    if (ctx.untimed(Seq(cat.bandsT, cat.shinglesT, cat.sizesT).exists(t => !spark.table(t).isEmpty)))
      ctx.fail(1, "expired catalog still holds rows")
  }

  /** Catalog, sinks and checkpoints of the first pass, measured after
    * its last write and before retention drops the catalog.
    */
  def storedBytes(): Long = storedAtRetention

  def layerMetrics(): Seq[(String, Double)] = {
    def opMedian(n: String) = ctx.median(ctx.warmOps(n).map(_.seconds))
    val progress = ctx.trace.synchronized(ctx.trace.progress.toSeq).filter(_.numInputRows > 0)
    def dur(k: String) = ctx.median(progress.map(p =>
      Option(p.durationMs.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)))
    ctx.operatorSpans() ++ Seq("land", "append", "compact", "screen", "expire").map(k =>
      s"plans.catalog_${k}_s" -> opMedian(s"catalog_$k")) ++
      files.toSeq.sortBy(_._1).map { case (k, v) => k -> ctx.median(v.toSeq) } ++ Seq(
      "streaming.batch_s" -> ctx.median(progress.map(_.batchDuration / 1e3)),
      "streaming.add_batch_s" -> dur("addBatch"),
      "streaming.commit_s" -> dur("commitOffsets"),
      "streaming.query_planning_s" -> dur("queryPlanning"),
      "streaming.input_rows" -> ctx.median(progress.map(_.numInputRows.toDouble)),
      "streaming.state_rows" -> ctx.median(progress.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble)),
      "streaming.state_commit_s" -> ctx.median(progress.map(_.stateOperators.map(_.commitTimeMs).sum / 1e3)))
  }
}

/** Minimal JSON encoder for the result file. */
object Json {
  final case class Obj(fields: Seq[(String, Any)])
  def obj(fields: (String, Any)*): Obj = Obj(fields)

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case Obj(fs) => fs.map { case (k, x) => quote(k) + ":" + render(x) }.mkString("{", ",", "}")
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case (a, b) => render(Seq(a, b))
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= "\\u%04x".format(c.toInt)
      case c => b += c
    }
    b.append('"').toString
  }
}
