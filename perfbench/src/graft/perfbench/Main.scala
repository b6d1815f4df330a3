package graft.perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.CdcMaterializer

/** One benchmark run of one workload in this JVM:
  * `--workload W --seed N --seconds S --trace 0|1 --cores C --work DIR --out FILE --spans FILE`.
  * Writes the run's verdict and metrics as one JSON object to `--out`.
  */
object Main {
  val bodies: Map[String, Run => Unit] = Map(
    "replica" -> Workloads.replica,
    "screen" -> Workloads.screen)

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3

  def session(cores: Int, work: File): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()

  /** Session start, function registration and a materializer stream over
    * a small binlog until its first committed batch. Returns the seconds
    * taken and the live session.
    */
  def setup(cores: Int, work: File, setupLog: File, i: Int): (Double, SparkSession) = {
    val t0 = System.nanoTime()
    val s = session(cores, work)
    graft.functions.GraftFunctions.register(s)
    val q = CdcMaterializer.materialize(
      s.readStream.format("mysql-binlog").option("payloadDdl", Kv.PayloadDdl).load(setupLog.getPath),
      "id", new File(work, s"setup-$i/table").getPath, new File(work, s"setup-$i/ckpt").getPath,
      nBuckets = 16, trigger = Trigger.ProcessingTime(Workloads.TriggerMs))
    try q.processAllAvailable() finally q.stop()
    ((System.nanoTime() - t0) / 1e9, s)
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val body = bodies.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload; one of ${bodies.keys.mkString(", ")}"))
    val seed = a("seed").toLong
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val work = new File(a("work")).getAbsoluteFile
    work.mkdirs()

    val setupLog = new File(work, "setup-binlog")
    val sg = new ChangeGen(seed, keys = 1000, skew = 0.99, deleteShare = 0.1, TextModel.Plain)
    val sbd = new BinlogDir(setupLog)
    (0 until 200).foreach(_ => sbd.append(System.currentTimeMillis() / 1000, sg.txn(1)))
    sbd.close()

    val setups = (1 to Setups).map { i =>
      val (secs, s) = setup(cores, work, setupLog, i)
      if (i < Setups) {
        s.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      (secs, s)
    }
    val s = setups.last._2
    s.sparkContext.setLogLevel("ERROR")
    val progress = new ProgressLog
    s.streams.addListener(progress)
    val jobs = if (traced) Some(new JobLog) else None
    jobs.foreach(s.sparkContext.addSparkListener)
    val runId = s"$workload-$seed-${if (traced) "traced" else "plain"}"
    val r = new Run(s, work, new Tracer(traced, runId), jobs, progress, seed,
      a("seconds").toDouble)
    r.e2e("setup_s") = (Stats.median(setups.map(_._1)), "s")
    r.log(s"setups: ${setups.map(x => f"${x._1}%.2f").mkString(" ")} s")
    try body(r)
    finally {
      if (traced) r.tr.write(new File(a("spans")))
      s.stop()
    }
    if (traced) Layers.all.foreach { case (n, u) => if (!r.layer.contains(n)) r.layer(n) = (0.0, u) }
    writeResult(new File(a("out")), r)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def writeResult(f: File, r: Run): Unit = {
    def obj(m: collection.Map[String, (Double, String)]) = m.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString("{", ", ", "}")
    val json = s"""{"correct": ${r.failed == 0}, "attempted": ${r.attempted}, "failed": ${r.failed}, """ +
      s""""e2e": ${obj(r.e2e)}, "layer": ${obj(r.layer)}}"""
    val out = new java.io.PrintWriter(f, "UTF-8")
    try out.println(json) finally out.close()
  }
}
