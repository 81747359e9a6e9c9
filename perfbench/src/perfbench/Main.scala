package perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.SparkSession

/** Runs one benchmark workload in one JVM and writes what it recorded
  * to a JSON file; `perfbench/run.py` turns the record into metrics.
  *
  * Usage: perfbench.Main --workload W --trace 0|1
  *   --data DIR --work DIR --out FILE [--stage DIR --warmup-files K] [--queries a,b,..]
  *   [--inject-fault 0|1]
  */
object Main {
  def main(args: Array[String]): Unit = {
    val entryMs = System.currentTimeMillis()
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val traced = opt.getOrElse("trace", "0") == "1"
    val work = opt("work")
    val cycles = 3

    // set-up is repeated and its median reported: session start and
    // input staging, each cycle from a stopped context
    val setupCycles = (1 to cycles).map { i =>
      val t0 = System.nanoTime()
      val s = session(work)
      stage(s, workload, opt("data"))
      if (i < cycles) s.stop()
      (System.nanoTime() - t0) / 1e9
    }
    val spark = SparkSession.active
    val probe = new Probe(spark, traced)
    val record = workload match {
      case "stream_steady" =>
        StreamRun.run(spark, probe, opt("data"), opt("stage"), work,
          opt("warmup-files").toInt, opt.getOrElse("inject-fault", "0") == "1")
      case "batch_cold" =>
        BatchRun.run(spark, probe, opt("queries").split(",").toSeq, opt("data"), work)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    probe.drain()
    val out = record ++ Map(
      "workload" -> workload,
      "main_entry_ms" -> entryMs,
      "setup_cycles_s" -> setupCycles,
      "totals" -> probe.totals.map { case (k, v) => k -> v.toJson }.toMap,
      "spans" -> probe.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs)).toSeq)
    spark.stop()
    Files.writeString(Paths.get(opt("out")),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(out))
  }

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Reads what the workload's first action needs: the dimension for
    * the stream, every table's footer for the batch suites. */
  private def stage(s: SparkSession, workload: String, data: String): Unit =
    if (workload == "stream_steady")
      graft.operators.Enrich.customerDim(s, data).count()
    else
      new java.io.File(data).listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => s.read.parquet(f.getPath).schema)
}
