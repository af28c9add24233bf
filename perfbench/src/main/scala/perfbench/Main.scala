package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (normally launched by `perfbench/run.py`).
  *
  * {{{
  * Main --workload agent_read|agent_write|pipeline_batch --seed N
  *      --seconds S --trace 0|1 --work DIR --out FILE
  * }}}
  *
  * Generates every input from the seed, sets up, measures for `seconds`,
  * checks every output, and writes the outcome as JSON to `--out`; the
  * trace of a traced run goes beside it. Exit code 1 when any output check
  * failed, 2 on bad arguments, 3 when an engine override is set in the
  * environment (a run under an override does not measure the engine as
  * shipped, so it reports nothing).
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: File, out: File)

  val Workloads = Seq("agent_read", "agent_write", "pipeline_batch")

  /** Environment variables that silently change the engine's plans. */
  val Overrides = Seq("SPARK_GRAFT_CONF", "GRAFT_AB")

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, usage(s"missing --$k"))
    val w = need("workload")
    if (!Workloads.contains(w)) usage(s"unknown workload $w")
    val seconds = need("seconds").toInt
    if (seconds < 1) usage("--seconds must be >= 1")
    Opts(w, need("seed").toLong, seconds, need("trace") == "1",
      new File(need("work")), new File(need("out")))
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    sys.exit(2)
  }

  def session(cores: Int, work: File, workload: String): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val set = Overrides.flatMap(k => sys.env.get(k).map(k -> _))
    if (set.nonEmpty) {
      System.err.println("perfbench: refusing to report with engine overrides set: " +
        set.map { case (k, v) => s"$k=$v" }.mkString(", "))
      sys.exit(3)
    }
    opts.work.mkdirs()
    val cores = Runtime.getRuntime.availableProcessors
    val spark = session(cores, opts.work, opts.workload)
    val sessionS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val tracer = new Tracer(spark.sparkContext, opts.trace)
    val ctx = Ctx(spark, tracer, opts, cores, sessionS)
    val outcome = opts.workload match {
      case "agent_read" => Agent.run(ctx, Agent.ReadMix)
      case "agent_write" => Agent.run(ctx, Agent.WriteMix)
      case "pipeline_batch" => Pipeline.run(ctx)
    }
    val env = Seq(
      "workload" -> Json.str(opts.workload),
      "seed" -> opts.seed.toString,
      "seconds" -> opts.seconds.toString,
      "trace" -> opts.trace.toString,
      "master" -> Json.str(spark.sparkContext.master),
      "shuffle_partitions" -> Json.str(spark.conf.get("spark.sql.shuffle.partitions")),
      "time_zone" -> Json.str(spark.conf.get("spark.sql.session.timeZone"))) ++
      Overrides.map(k => k -> sys.env.get(k).map(Json.str).getOrElse("null"))
    def metricsJson(ms: Seq[Metric]) = Json.arr(ms.map(m =>
      Json.obj(Seq("name" -> Json.str(m.name), "unit" -> Json.str(m.unit), "value" -> Json.num(m.value)))))
    val json = Json.obj(Seq(
      "correct" -> (outcome.failed == 0).toString,
      "attempted" -> outcome.attempted.toString,
      "failed" -> outcome.failed.toString,
      "failures" -> Json.arr(outcome.failures.take(20).map(Json.str)),
      "metrics" -> metricsJson(outcome.metrics),
      "table" -> metricsJson(outcome.table),
      "env" -> Json.obj(env)))
    Files.write(opts.out.toPath, json.getBytes(StandardCharsets.UTF_8))
    if (opts.trace) {
      val traceFile = new File(opts.out.getParentFile, opts.out.getName.stripSuffix(".json") + ".trace.json")
      Files.write(traceFile.toPath, tracer.data.toJson(env).getBytes(StandardCharsets.UTF_8))
    }
    spark.stop()
    sys.exit(if (outcome.failed == 0) 0 else 1)
  }
}

/** What every workload gets from [[Main]]. */
final case class Ctx(spark: SparkSession, tracer: Tracer, opts: Main.Opts,
    cores: Int, sessionS: Double) {
  def dir(name: String): File = {
    val d = new File(opts.work, name)
    d.mkdirs()
    d
  }
}
