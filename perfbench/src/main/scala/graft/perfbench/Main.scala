package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import org.apache.spark.sql.SparkSession

/** One benchmark run: one workload, one seed, one JVM.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --work <dir> [--artifact <file>]
  *
  * Prints one `PERFBENCH_RESULT {...}` line; `run.py` turns it into the
  * benchmark's result line. Exits 1 when any answer was wrong. */
object Main {

  /** Every per-layer metric is reported on every workload; a layer the
    * workload does not touch reads 0. */
  val perLayerNames: Seq[String] = Seq(
    "wallet.processing_hop.wall_s", "wallet.processing_hop.job_s",
    "wallet.processing_hop.driver_gap_s", "wallet.processing_hop.tasks",
    "wallet.processing_hop.input_bytes", "wallet.processing_hop.gc_s",
    "wallet.curated_hop.wall_s", "wallet.curated_hop.job_s",
    "wallet.curated_hop.driver_gap_s", "wallet.curated_hop.tasks",
    "wallet.curated_hop.output_bytes", "wallet.curated_hop.gc_s",
    "io.commit.replay_ms", "io.bytes_stored_per_input_byte",
    "dedup.ingest.wall_s", "dedup.ingest.jobs", "dedup.ingest.job_s",
    "dedup.ingest.driver_gap_s", "dedup.ingest.job_overlap",
    "io.commit.per_batch", "dedup.probe.files_scanned_ratio",
    "dedup.losers_found_ratio",
    "io.read.point.wall_ms", "io.read.range.wall_ms",
    "io.read.point.files_scanned_ratio", "io.read.range.files_scanned_ratio",
    "io.read.jobs_per_op", "io.read.driver_gap_ms",
    "io.commit.delete.wall_ms", "io.commit.upsert.wall_ms",
    "io.commit.append.wall_ms", "io.maintenance.wall_s",
    "io.log_read_manifests", "io.log_read_bytes", "io.sig_files",
    "io.bytes_stored_per_live_byte",
    "spark.jobs", "spark.tasks", "spark.job_s", "spark.driver_gap_s",
    "spark.shuffle_bytes", "spark.gc_s")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val workload = opt("--workload")
    val run = Workloads.all.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val seed = opt("--seed").toLong
    val seconds = opt("--seconds").toInt
    val traced = opt("--trace") == "1"
    val work = new File(opt("--work"))

    val cores = math.min(Runtime.getRuntime.availableProcessors(), 4)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftExtensions.install(spark)
    val listener = if (traced) Some(new JobListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val sessionReadyS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val sessionReadyCpuS = Workloads.cpuS()

    val tr = new Tracer(listener)
    val out = new Outcome
    try run(new Ctx(spark, seed, seconds, work, tr, out))
    catch { case e: Exception =>
      e.printStackTrace()
      out.attempted += 1
      out.failed += 1
    }

    listener.foreach { _ =>
      org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
      val all = tr.all.filter(s => s.layer == "bench" && s.name == "measured")
        .map(tr.cost).foldLeft(SpanCost.zero)(_ + _)
      out.perLayer ++= Seq("spark.jobs" -> all.jobs.toDouble,
        "spark.tasks" -> all.tasks.toDouble, "spark.job_s" -> all.jobS,
        "spark.driver_gap_s" -> all.driverGapS,
        "spark.shuffle_bytes" -> all.shuffleBytes.toDouble, "spark.gc_s" -> all.gcS)
    }
    spark.stop()

    // set-up is charged in CPU seconds, like every other timing metric
    val setupS = sessionReadyCpuS + out.setup.cpuS
    val rssMb = rssPeakMb()
    out.endToEnd ++= Seq("setup_s" -> setupS, "rss_peak_mb" -> rssMb)
    out.named ++= Seq("setup_s" -> (setupS, "s"),
      "setup_wall_s" -> (sessionReadyS + out.setup.wallS, "s"),
      "ops_failed_ratio" -> (Stats.ratio(out.failed, out.attempted), "ratio"),
      "rss_peak_mb" -> (rssMb, "MB"))
    val perLayer = perLayerNames.map(n => n -> out.perLayer.getOrElse(n, 0.0))

    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    def obj(kv: Seq[(String, String)]): String =
      kv.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val result = obj(Seq(
      "workload" -> ("\"" + workload + "\""),
      "seed" -> seed.toString,
      "traced" -> traced.toString,
      "correct" -> (out.failed == 0).toString,
      "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "measured_wall_s" -> num(out.measuredWallS),
      "session_ready_s" -> num(sessionReadyS),
      "end_to_end" -> obj(out.endToEnd.toSeq.map { case (k, v) => k -> num(v) }),
      "named" -> obj(out.named.toSeq.map { case (k, (v, u)) =>
        k -> obj(Seq("value" -> num(v), "unit" -> ("\"" + u + "\""))) }),
      "per_layer" -> (if (traced) obj(perLayer.map { case (k, v) => k -> num(v) })
        else "{}")))

    opts.get("--artifact").filter(_ => traced).foreach { path =>
      val spans = tr.all.map { s =>
        val c = tr.cost(s)
        obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
          "layer" -> ("\"" + s.layer + "\""), "name" -> ("\"" + s.name + "\""),
          "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
          "wall_s" -> num(c.wallS), "jobs" -> c.jobs.toString,
          "job_s" -> num(c.jobS), "driver_gap_s" -> num(c.driverGapS),
          "tasks" -> c.tasks.toString, "gc_s" -> num(c.gcS)))
      }
      val f = new File(path)
      f.getParentFile.mkdirs()
      Files.write(f.toPath, obj(Seq("result" -> result,
        "spans" -> spans.mkString("[", ",\n", "]"))).getBytes(StandardCharsets.UTF_8))
    }
    println("PERFBENCH_RESULT " + result)
    sys.exit(if (out.failed == 0) 0 else 1)
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def rssPeakMb(): Double = {
    val status = new File("/proc/self/status")
    if (!status.exists()) 0.0
    else scala.io.Source.fromFile(status).getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(0.0)
  }
}
