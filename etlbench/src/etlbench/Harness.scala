package etlbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import graft.Main
import graft.engine.{TransferEngine, YamlJob}
import graft.functions.SketchExprs.{minhash_bands, shingleHashes}
import graft.infer.CellInference
import graft.llm.Dedup
import graft.sources.Connectors
import graft.transform.Transform
import graft.validate.{SchemaFile, Validation}

import org.apache.spark.EtlBenchBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, posexplode}

/** Benchmark harness. One JVM stands for one CLI process: it creates the
  * Spark session exactly as `graft` does, then calls the CLI's public run
  * functions (`Main.runTransfer`, `Main.runDedup`) on generated inputs.
  *
  * Roles:
  *  - `cli`: set-up and one call, as one `graft` invocation. No listener,
  *    no spans.
  *  - `trace`: warm untraced calls (the overhead reference), then repeats
  *    of the workload's stages, each materialized into Spark's `noop`
  *    sink, followed by one run-function call under a SparkListener.
  *  - `baseline`: a few calls in a row (the single-core baseline is this
  *    role under `-XX:ActiveProcessorCount=1`).
  *
  * Every call writes its output under `--out`; the Python side checks it.
  * Results go to `--result` as one JSON object. */
object Harness {

  private def nowUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  /** Session settings of `graft.Main.session`: local[cores], shuffle
    * partitions = cores, UTC, parquet nanos as long, UI off. */
  private def session(): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toLong }.getOrElse(-1L)

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  // ------------------------------------------------------------------
  // workloads: the CLI call, and the same pipeline split into stages

  /** A traced stage: `base` names the stages whose work its plan repeats;
    * its self time is its duration minus theirs. */
  final case class Stage(name: String, base: Seq[String], body: () => Unit)

  /** Layers every traced run reports; a workload that does not use one
    * records it as an empty stage. */
  val Layers: Seq[String] = Seq("sources.scan", "infer.sample", "infer.cast",
    "validate.check", "transform.project", "functions.minhash_sig",
    "llm.minhash_pairs", "llm.closure", "engine.plan")

  sealed trait Workload {
    /** The CLI run function on this workload; returns its exit code. */
    def call(out: String): Int
    /** The stages of one traced repeat, ending with `engine.run`. */
    def stages(spark: SparkSession, out: String): Seq[Stage]
    /** Optional extra traced output, outside every span. */
    def extra(spark: SparkSession, out: String): Unit = ()
  }

  /** The reader options of `CellInference.readCsv`: header, all columns
    * raw strings, a NUL-wrapped null sentinel, RFC 4180 quote escaping. */
  private def rawCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "false")
      .option("nullValue", "\u0000never\u0000").option("escape", "\"")
      .csv(path)

  /** Fill the stage list: layers the workload does not use become empty
    * stages, and `engine.run` (the CLI call) comes last. */
  private def withRun(used: Seq[Stage], runBase: Seq[String],
                      run: () => Unit): Seq[Stage] = {
    val byName = used.map(s => s.name -> s).toMap
    Layers.map(n => byName.getOrElse(n, Stage(n, Nil, () => ()))) :+
      Stage("engine.run", runBase, run)
  }

  final class CsvIngest(data: String) extends Workload {
    private val src = s"$data/input.csv"
    private def cfg(out: String) =
      YamlJob.load(s"$data/job.yaml", Map("SRC" -> src, "TGT" -> s"$out/output.parquet"))
    def call(out: String): Int = {
      val r = cfg(out)
      Main.runTransfer(r.cfg, r.preview, r.dryRun, r.logLevel)
    }
    def stages(spark: SparkSession, out: String): Seq[Stage] = {
      val r = cfg(out)
      val spec = r.cfg.transform
      var raw: DataFrame = null
      var cols: Seq[graft.core.TinyType.TinyColumn] = Nil
      var typed: DataFrame = null
      withRun(Seq(
        Stage("sources.scan", Nil, () => { raw = rawCsv(spark, src); noop(raw) }),
        Stage("infer.sample", Nil, () => cols = CellInference.inferColumns(raw)),
        Stage("infer.cast", Seq("sources.scan"), () => {
          typed = CellInference.applyTypes(raw, cols); noop(typed) }),
        Stage("transform.project", Seq("infer.cast"), () => {
          val t = Transform.inline(typed, spec.inline.get)
          noop(Transform.filter(t, spec.filter.get)) }),
        Stage("engine.plan", Seq("infer.sample"), () =>
          new TransferEngine(r.cfg).plan(spark).schema)),
        Seq("transform.project", "engine.plan"), () => check(call(out)))
    }
  }

  final class ParquetValidateExport(data: String) extends Workload {
    private val src = s"$data/input.parquet"
    private val schema = s"$data/schema.yaml"
    private def transfer(out: String): Main.Transfer =
      Main.parse(List(src, s"$out/valid.json", "--schema-file", schema,
        "--quarantine", s"$out/rejects.csv", "--log-level", "error")) match {
        case t: Main.Transfer => t
        case other => sys.error(s"unexpected command $other")
      }
    def call(out: String): Int = {
      val t = transfer(out)
      Main.runTransfer(t.cfg, t.preview, t.dryRun, t.logLevel)
    }
    def stages(spark: SparkSession, out: String): Seq[Stage] = {
      val t = transfer(out)
      var raw: DataFrame = null
      withRun(Seq(
        Stage("sources.scan", Nil, () => {
          raw = Connectors.read(spark, src, Map.empty); noop(raw) }),
        // the engine's quarantine split: two filtered passes over one read
        Stage("validate.check", Seq("sources.scan"), () => {
          val (valid, invalid) = Validation.quarantine(raw, SchemaFile.fromFile(schema))
          noop(valid); noop(invalid) }),
        Stage("engine.plan", Nil, () => new TransferEngine(t.cfg).plan(spark).schema)),
        Seq("validate.check", "engine.plan"), () => check(call(out)))
    }
  }

  final class NearDedup(data: String) extends Workload {
    private val src = s"$data/input.parquet"
    private def cmd(out: String): Main.DedupCmd =
      Main.parse(List("dedup", src, s"$out/survivors.parquet", "--id", "id",
        "--text", "text", "--log-level", "error")) match {
        case d: Main.DedupCmd => d
        case other => sys.error(s"unexpected command $other")
      }
    def call(out: String): Int = Main.runDedup(cmd(out))
    def stages(spark: SparkSession, out: String): Seq[Stage] = {
      val threshold = cmd(out).threshold
      var raw: DataFrame = null
      withRun(Seq(
        Stage("sources.scan", Nil, () => {
          raw = Connectors.read(spark, src, Map.empty); noop(raw) }),
        // Dedup.minhashPairs' signature step at its defaults (3-grams,
        // 64 hashes, 16 bands)
        Stage("functions.minhash_sig", Seq("sources.scan"), () =>
          noop(raw.select(col("id"), posexplode(
            minhash_bands(shingleHashes(col("text"), 3), 64, 16))))),
        Stage("llm.minhash_pairs", Seq("functions.minhash_sig"), () =>
          noop(Dedup.minhashPairs(raw, "id", "text", threshold = threshold))),
        Stage("llm.closure", Seq("llm.minhash_pairs"), () =>
          noop(Dedup.minhashDedupConnected(raw, "id", "text", threshold = threshold)))),
        Seq("llm.closure"), () => check(call(out)))
    }
    /** Every LSH candidate pair (threshold 0 keeps all of them), for the
      * candidate count and the planted-pair precision. */
    override def extra(spark: SparkSession, out: String): Unit =
      Dedup.minhashPairs(Connectors.read(spark, src, Map.empty), "id", "text",
        threshold = 0.0).select("id_a", "id_b")
        .write.mode("overwrite").parquet(s"$out/candidates.parquet")
  }

  private def check(code: Int): Unit =
    if (code != 0) throw new RuntimeException(s"run function exited $code")

  private def workload(name: String, data: String): Workload = name match {
    case "csv_ingest" => new CsvIngest(data)
    case "parquet_validate_export" => new ParquetValidateExport(data)
    case "near_dedup" => new NearDedup(data)
    case other => sys.error(s"unknown workload $other")
  }

  // ------------------------------------------------------------------
  // roles

  /** One timed run-function call: (output dir, seconds, ok). */
  private def timed(w: Workload, out: String): (String, Double, Boolean) = {
    val t0 = System.nanoTime()
    val ok =
      try w.call(out) == 0
      catch { case e: Exception =>
        System.err.println(s"call failed: $e"); false }
    (out, (System.nanoTime() - t0) / 1e9, ok)
  }

  private def callsJson(calls: Seq[(String, Double, Boolean)]): String =
    calls.map { case (d, s, ok) =>
      s"""{"dir":"$d","s":$s,"ok":$ok}""" }.mkString("[", ",", "]")

  /** One CLI invocation: the run function once, in this fresh process. */
  private def cliRole(w: Workload, out: String): String =
    s""""calls":${callsJson(Seq(timed(w, s"$out/call")))},"vmhwm_kb":${vmHwmKb()}"""

  private def baselineRole(w: Workload, out: String, calls: Int): String =
    s""""warm":${callsJson((0 until calls).map(i => timed(w, s"$out/b$i")))}"""

  /** Counters from task and job events, summed between resets. */
  final class Counters extends SparkListener {
    val jobs, tasks, cpuNs, gcMs, shuffleWrite, spill, recordsRead = new AtomicLong
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        recordsRead.addAndGet(m.inputMetrics.recordsRead)
      }
    }
    private def all = Seq(jobs, tasks, cpuNs, gcMs, shuffleWrite, spill, recordsRead)
    def reset(): Unit = all.foreach(_.set(0))
    def json: String =
      Seq("jobs", "tasks", "cpu_ns", "gc_ms", "shuffle_write_bytes",
        "spill_bytes", "records_read").zip(all)
        .map { case (k, v) => s""""$k":${v.get}""" }.mkString("{", ",", "}")
  }

  /** After a cold call and a warm-up call, each repeat makes one untraced
    * call and one traced repeat, in alternating order, so both sides see
    * the same JIT warmth on average. */
  private def traceRole(spark: SparkSession, w: Workload, out: String,
                        repeats: Int): String = {
    val cold = timed(w, s"$out/cold")
    // one more call left out of the timings: the first warm calls still
    // speed up steeply
    val warmup = timed(w, s"$out/warmup")
    val plain = ArrayBuffer.empty[(String, Double, Boolean)]
    val counters = new Counters
    val sc = spark.sparkContext
    val spans = ArrayBuffer.empty[String]
    val perRun = ArrayBuffer.empty[String]
    val origin = System.nanoTime()
    def span(r: Int, name: String, parent: String, base: Seq[String])(body: => Unit): Unit = {
      val s = System.nanoTime()
      body
      val e = System.nanoTime()
      spans += s"""{"run":$r,"name":"$name","parent":"$parent",""" +
        s""""base":${base.map(b => s""""$b"""").mkString("[", ",", "]")},""" +
        s""""start_ns":${s - origin},"end_ns":${e - origin}}"""
    }
    for (r <- 0 until repeats) {
      if (r % 2 == 0) plain += timed(w, s"$out/u$r")
      sc.addSparkListener(counters)
      span(r, "trace", "", Nil) {
        w.stages(spark, s"$out/t$r").foreach { st =>
          if (st.name == "engine.run") {
            EtlBenchBridge.drainListenerBus(sc)
            counters.reset()
          }
          span(r, st.name, "trace", st.base)(st.body())
        }
      }
      EtlBenchBridge.drainListenerBus(sc)
      sc.removeSparkListener(counters)
      perRun += counters.json
      if (r % 2 == 1) plain += timed(w, s"$out/u$r")
    }
    w.extra(spark, out)
    Files.write(Paths.get(s"$out/spans.jsonl"), spans.mkString("", "\n", "\n").getBytes(UTF_8))
    s""""first":${callsJson(Seq(cold, warmup))},"warm":${callsJson(plain.toSeq)},""" +
      s""""counters":${perRun.mkString("[", ",", "]")},""" +
      s""""run_dirs":${(0 until repeats).map(r => s""""$out/t$r"""").mkString("[", ",", "]")}"""
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val launchUs = opt("launch-us").toLong
    val out = opt("out")
    Files.createDirectories(Paths.get(out))
    val spark = session()
    val readyUs = nowUs()
    val w = workload(opt("workload"), opt("data"))
    val body = opt("role") match {
      case "cli" => cliRole(w, out)
      case "trace" => traceRole(spark, w, out, opt("repeats").toInt)
      case "baseline" => baselineRole(w, out, opt("calls").toInt)
      case other => sys.error(s"unknown role $other")
    }
    val json = s"""{"setup_s":${(readyUs - launchUs) / 1e6},""" +
      s""""cores":${Runtime.getRuntime.availableProcessors()},$body}"""
    Files.write(Paths.get(opt("result")), json.getBytes(UTF_8))
    spark.stop()
  }
}
