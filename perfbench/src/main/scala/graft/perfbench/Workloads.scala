package graft.perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.TxnTable
import graft.wallet.Wallet

/** What one run measured and whether its answers were right. */
final class Outcome {
  var attempted = 0
  var failed = 0
  /** Set-up work done after the session was ready (initial state):
    * median CPU and wall seconds of its builds. */
  var setup = Cost(0, 0)
  var measuredWallS = 0.0
  val endToEnd = mutable.LinkedHashMap.empty[String, Double]
  val perLayer = mutable.LinkedHashMap.empty[String, Double]
  /** The workload's own figures under the names it defines them by. */
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]

  /** One op: it fails if it threw or any of its answers were wrong. */
  def op(what: String)(answers: => Seq[(Boolean, String)]): Unit = {
    attempted += 1
    val wrong =
      try answers.filterNot(_._1).map(_._2)
      catch { case e: Exception => Seq(s"threw ${e.getClass.getName}: ${e.getMessage}") }
    if (wrong.nonEmpty) {
      failed += 1
      wrong.foreach(w => System.err.println(s"[perfbench] $what: $w"))
    }
  }

  /** The three bounded cost metrics every workload reports: median CPU
    * of its unit op, CPU per write op, and units of work per CPU second
    * over the measured phase. */
  def costs(opCpuS: Seq[Double], cpuPerWriteS: Double, work: Double,
            cpuS: Double): Unit = endToEnd ++= Seq(
    "op_cpu_p50_ms" -> Stats.median(opCpuS) * 1e3,
    "write_cpu_ms" -> cpuPerWriteS * 1e3,
    "work_per_cpu_s" -> Stats.ratio(work, cpuS))
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  /** The highest sample with at least ten samples above it (p90 of 100
    * samples), or the median when that sample is below it: fewer than 23
    * samples support no tail percentile, and their maximum is a single
    * sample. */
  def tail(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size < 11) median(s) else math.max(median(s), s(s.size - 11))
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0
}

/** Wall and process CPU seconds of one call. */
final case class Cost(wallS: Double, cpuS: Double)

final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val work: File, val tr: Tracer, val out: Outcome) {
  /** Units of work for a run of `seconds`: fixed for a given `seconds`,
    * so the parent and a change always do identical work. */
  def units(perSecond: Double, min: Int): Int =
    math.max(min, math.round(seconds * perSecond).toInt)
}

object Workloads {
  import Stats._

  /** Initial state is built this many times, each in its own directory,
    * and the median build time is the set-up cost. The first build then
    * takes the warm-up ops; the last is the one the workload runs on. */
  val SetupReps = 3

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** CPU seconds this process has used, all threads. Unlike wall time it
    * does not count time the host gave to others. */
  def cpuS(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def measure[A](body: => A): (A, Cost) = {
    val c0 = cpuS()
    val (a, wall) = timed(body)
    (a, Cost(wall, cpuS() - c0))
  }

  private val jvmStart =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  def log(msg: String): Unit = System.err.println(
    f"[perfbench] ${(System.currentTimeMillis() - jvmStart) / 1e3}%7.2f s  $msg")

  private def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(du).sum
    else f.length()

  private def liveBytes(spark: SparkSession, table: String): Long = {
    val v = TxnTable.latestVersion(spark, table).get
    TxnTable.snapshotFiles(spark, table, v).map { f =>
      val p = new File(f.stripPrefix("file:"))
      if (p.isAbsolute) p.length() else new File(table, f).length()
    }.sum
  }

  /** Files each graft scan in an executed plan read, after pruning. */
  private def graftScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[Int] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    p.flatMap {
      case b: BatchScanExec => b.scan match {
        case g: graft.io.GraftScanFiles => Seq(g.scannedFileCount)
        case _ => Nil
      }
      case a: AdaptiveSparkPlanExec => graftScans(a.executedPlan)
      case s: QueryStageExec => graftScans(s.plan)
      case r: ReusedExchangeExec => graftScans(r.child)
      case _ => Nil
    }
  }

  private def logCost(spark: SparkSession, table: String): (Int, Long) =
    TxnTable.logReadCost(spark, table, TxnTable.latestVersion(spark, table).get)

  /** Builds the initial state `SetupReps` times; returns the directories
    * in build order. */
  private def setupReps(c: Ctx, name: String)(build: File => Unit): Seq[File] = {
    val dirs = (1 to SetupReps).map(i => new File(c.work, s"$name-$i"))
    val costs = dirs.map { d =>
      val t = measure(c.tr.span("setup", name)(build(d)))._2
      log(f"$name ${d.getName}: ${t.wallS}%.3f s, cpu ${t.cpuS}%.2f s")
      t
    }
    c.out.setup = Cost(median(costs.map(_.wallS)), median(costs.map(_.cpuS)))
    dirs
  }

  // ------------------------------------------------- wallet_medallion

  val WalletRows = 400000
  /** The warm-up DAG's landing file, from another generator stream. */
  val WalletWarmRows = 20000
  /** DAG repetitions per measured second. */
  val WalletDagsPerS = 0.3

  /** The paper's DAG: landing CSV → processing zone (cleanse) → curated
    * zone (34 features) → replay of the same batch id. After one warm-up
    * DAG on a small file, the DAG runs several times over the same
    * landing file, each time into fresh zones, as a daily job does. */
  def walletMedallion(c: Ctx): Unit = {
    import c.{spark, tr, out}
    val landing = new File(c.work, "landing/wallet.csv")
    landing.getParentFile.mkdirs()
    val truth = Gen.walletCsv(c.seed, WalletRows, landing)
    val warmLanding = new File(c.work, "landing/warm.csv")
    Gen.walletCsv(~c.seed, WalletWarmRows, warmLanding)
    log(s"landing CSV: ${truth.rows} rows, ${truth.bytes} bytes")
    val app = "wallet_medallion"
    val batch = 1L

    def processingHop(csv: File, zone: String): Long = TxnTable.commitOverwriteIdempotent(
      Wallet.cleanse(Wallet.readRaw(spark, csv.getPath)), zone, app, batch)
    def curatedHop(from: String, zone: String): Long = TxnTable.commitOverwriteIdempotent(
      Wallet.features(TxnTable.read(spark, from)), zone, app, batch)
    def zones(name: String) = (new File(c.work, s"processing/$name").getPath,
      new File(c.work, s"curated/$name").getPath)

    val (wp, wc) = zones("warm")
    log(f"warm-up DAG: ${timed { processingHop(warmLanding, wp); curatedHop(wp, wc) }._2}%.3f s")

    final case class Dag(processing: String, curated: String, versions: (Long, Long),
        replayed: (Long, Long), hops: (Cost, Cost), replay: Cost)
    val dags = mutable.ArrayBuffer.empty[Dag]
    val (_, wall) = timed(tr.span("bench", "measured") {
      (1 to c.units(WalletDagsPerS, 2)).foreach { i =>
        val (p, q) = zones(s"dag$i")
        val (vp, tp) = measure(tr.span("wallet", "processing_hop")(processingHop(landing, p)))
        val (vc, tc) = measure(tr.span("wallet", "curated_hop")(curatedHop(p, q)))
        val (rv, trp) = measure(tr.span("io.commit", "replay")(
          (processingHop(landing, p), curatedHop(p, q))))
        dags += Dag(p, q, (vp, vc), rv, (tp, tc), trp)
        log(f"DAG $i: processing ${tp.wallS}%.3f s (cpu ${tp.cpuS}%.2f), " +
          f"curated ${tc.wallS}%.3f s (cpu ${tc.cpuS}%.2f), replay ${trp.wallS}%.3f s")
      }
    })
    out.measuredWallS = wall

    val scaled = Wallet.featureColumns.filter(c => c.startsWith("p_") &&
      !c.contains("_day") && !c.contains("_month") && !c.contains("_year") &&
      c != "p_marca" && c != "p_dias_atraso_category")
    dags.zipWithIndex.foreach { case (d, i) =>
      out.op(s"DAG ${i + 1} processing_hop") {
        Seq((TxnTable.read(spark, d.processing).count() == truth.rows,
          "processing zone row count"))
      }
      out.op(s"DAG ${i + 1} curated_hop") {
        val df = TxnTable.read(spark, d.curated)
        val maxima = df.agg(count(lit(1)), scaled.map(s => max(col(s))): _*).head()
        def hist(c: String): Map[Int, Long] = df.groupBy(col(c)).count().collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        Seq(
          (maxima.getLong(0) == truth.rows, s"curated row count ${maxima.getLong(0)}"),
          (df.columns.toSeq == Wallet.featureColumns, "curated column order"),
          (hist("p_marca") == truth.marca, "p_marca histogram"),
          (hist("p_dias_atraso_category") == truth.diasCategory,
            "p_dias_atraso_category histogram")) ++
          scaled.indices.map(i => (maxima.getDouble(i + 1) == 1.0,
            s"max(${scaled(i)}) = ${maxima.get(i + 1)}"))
      }
      out.op(s"DAG ${i + 1} replay") {
        Seq((d.replayed == d.versions, s"replay moved versions to ${d.replayed}"))
      }
    }
    log("answers checked")

    val hops = dags.flatMap(d => Seq(d.hops._1, d.hops._2)).toSeq
    val dagCpu = dags.map(d => d.hops._1.cpuS + d.hops._2.cpuS).toSeq
    val dagWall = dags.map(d => d.hops._1.wallS + d.hops._2.wallS).toSeq
    out.costs(dagCpu, mean(hops.map(_.cpuS)), truth.rows.toDouble * dags.size, dagCpu.sum)
    out.named ++= Seq("wallet.rows_per_s" -> (truth.rows / median(dagWall), "1/s"),
      "wallet.dag_p50_s" -> (median(dagWall), "s"))

    if (tr.listener.isDefined) {
      val n = dags.size.toDouble
      val p = tr.costOf("wallet", "processing_hop")
      val q = tr.costOf("wallet", "curated_hop")
      out.perLayer ++= Seq(
        "wallet.processing_hop.wall_s" -> p.wallS / n,
        "wallet.processing_hop.job_s" -> p.jobS / n,
        "wallet.processing_hop.driver_gap_s" -> p.driverGapS / n,
        "wallet.processing_hop.tasks" -> p.tasks / n,
        "wallet.processing_hop.input_bytes" -> p.inBytes / n,
        "wallet.processing_hop.gc_s" -> p.gcS / n,
        "wallet.curated_hop.wall_s" -> q.wallS / n,
        "wallet.curated_hop.job_s" -> q.jobS / n,
        "wallet.curated_hop.driver_gap_s" -> q.driverGapS / n,
        "wallet.curated_hop.tasks" -> q.tasks / n,
        "wallet.curated_hop.output_bytes" -> q.outBytes / n,
        "wallet.curated_hop.gc_s" -> q.gcS / n,
        "io.commit.replay_ms" -> median(dags.map(_.replay.wallS).toSeq) * 1e3,
        "io.bytes_stored_per_input_byte" -> ratio(
          (du(new File(dags.head.processing)) + du(new File(dags.head.curated))).toDouble,
          truth.bytes))
    }
  }

  // ---------------------------------------------------- corpus_ingest

  val CorpusBootstrap = 1500
  /** Increments per measured second. */
  val CorpusIncrementsPerS = 0.6
  val CorpusPerIncrement = 100
  /** Planted copies per batch: half within the batch, half of earlier
    * batches' originals. */
  val CorpusCopies = 10

  /** A bootstrap batch, then daily increments through the incremental
    * near-dup ingest; each increment probes the grown signature table.
    * The first increment is ingested once into a spare bootstrap copy
    * first, as warm-up. */
  def corpusIngest(c: Ctx): Unit = {
    import c.{spark, tr, out}
    import spark.implicits._
    val corpus = Gen.corpus(c.seed, CorpusBootstrap, c.units(CorpusIncrementsPerS, 3),
      CorpusPerIncrement, CorpusCopies)
    val frames = corpus.batches.map(b =>
      b.map(d => (d.id, d.lang, d.text)).toDF("doc_id", "lang", "text"))
    val bounds = corpus.batches.map(b => (b.head.id, b.last.id))
    def inBatch(i: Int) = $"doc_id".between(bounds(i)._1, bounds(i)._2)
    def ingest(zone: File, i: Int): (Int, Int) =
      graft.dedup.DedupOps.d47Ingest(spark, new File(zone, "corpus").getPath,
        new File(zone, "sigs").getPath, frames(i), first = i == 0, inBatch(i))

    val zones = setupReps(c, "bootstrap")(ingest(_, 0))
    log(f"warm-up increment: ${timed(ingest(zones.head, 1))._2}%.3f s")
    val corpusT = new File(zones.last, "corpus").getPath
    val sigsT = new File(zones.last, "sigs").getPath

    def versions = TxnTable.latestVersion(spark, corpusT).get +
      TxnTable.latestVersion(spark, sigsT).get
    val perBatch = mutable.ArrayBuffer.empty[(Cost, (Int, Int), Long)]
    val (_, wall) = timed(tr.span("bench", "measured") {
      (1 until frames.size).foreach { i =>
        val v0 = versions
        val (pruned, t) = measure(tr.span("dedup", "ingest")(ingest(zones.last, i)))
        perBatch += ((t, pruned, versions - v0))
        log(f"increment $i: ${t.wallS}%.3f s, cpu ${t.cpuS}%.2f s, probe scanned $pruned")
      }
    })
    out.measuredWallS = wall

    val survivors = spark.read.format("graft").load(corpusT)
      .select($"doc_id").as[Long].collect().toSet
    val originals = corpus.originals.toSet
    val wrong = (survivors -- originals) ++ (originals -- survivors)
    val copiesDeleted = corpus.batches.flatten.map(_.id)
      .count(id => !originals.contains(id) && !survivors.contains(id))
    corpus.batches.indices.foreach { i =>
      out.op(s"ingest batch $i") {
        val bad = wrong.filter(id => id >= bounds(i)._1 && id <= bounds(i)._2)
        Seq((bad.isEmpty, s"${bad.size} docs in the wrong state, e.g. ${bad.take(5)}"))
      }
    }

    val docs = frames.indices.drop(1).map(i => corpus.batches(i).size).sum
    val cpu = perBatch.map(_._1.cpuS).toSeq
    val batchS = perBatch.map(_._1.wallS).toSeq
    val commits = perBatch.map(_._3).sum
    out.costs(cpu, ratio(cpu.sum, commits.toDouble), docs.toDouble, cpu.sum)
    out.named ++= Seq("ingest.batch_p50_s" -> (median(batchS), "s"),
      "ingest.docs_per_s" -> (docs / batchS.sum, "1/s"),
      "ingest.commits" -> (commits.toDouble, "count"))

    if (tr.listener.isDefined) {
      val g = tr.costOf("dedup", "ingest")
      val (m1, b1) = logCost(spark, corpusT)
      val (m2, b2) = logCost(spark, sigsT)
      out.perLayer ++= Seq(
        "dedup.ingest.wall_s" -> g.wallS,
        "dedup.ingest.jobs" -> g.jobs.toDouble,
        "dedup.ingest.job_s" -> g.jobS,
        "dedup.ingest.driver_gap_s" -> g.driverGapS,
        "dedup.ingest.job_overlap" -> g.jobOverlap,
        "io.commit.per_batch" -> mean(perBatch.map(_._3.toDouble).toSeq),
        "dedup.probe.files_scanned_ratio" -> ratio(
          perBatch.map(_._2._1).sum.toDouble, perBatch.map(_._2._2).sum.toDouble),
        "dedup.losers_found_ratio" -> ratio(copiesDeleted, corpus.copies),
        "io.log_read_manifests" -> (m1 + m2).toDouble,
        "io.log_read_bytes" -> (b1 + b2).toDouble,
        "io.sig_files" -> TxnTable.snapshotFiles(spark, sigsT,
          TxnTable.latestVersion(spark, sigsT).get).size.toDouble,
        "io.bytes_stored_per_live_byte" -> ratio(
          du(new File(corpusT)).toDouble, liveBytes(spark, corpusT).toDouble))
    }
  }

  // ------------------------------------------------------- lake_serve

  val LakeRows = 200000L
  /** Rows per base file: below the ~13k distinct ids a per-file bloom
    * can still rule out (Bloom.DefaultBits), so point reads prune. */
  val LakeRowsPerFile = 12500L
  /** Each cycle is `LakeReadsPerWrite` reads and one write; this many
    * cycles per measured second. */
  val LakeCyclesPerS = 0.8
  val LakeReadsPerWrite = 4
  val LakeMaintainEvery = 4
  val LakeRangeWidth = 2000L
  val LakeWriteWidth = 50L
  val LakeAppendRows = 500L
  /** Appended and upserted files fall under this; base files do not. */
  val LakeSmallBytes = 64L << 10

  private def lakeRows(spark: SparkSession, seed: Long, from: Long,
                       until: Long, files: Int): DataFrame = {
    val id = udf((k: Long) => Gen.lakeId(seed, k))
    val v = udf((k: Long) => Gen.lakeV(seed, k))
    val pad = udf((k: Long) => Gen.lakePad(seed, k))
    spark.range(from, until, 1, files).select(
      id(col("id")).as("id"), col("id").as("k"), v(col("id")).as("v"),
      pad(col("id")).as("pad"))
  }

  /** One closed-loop client over a merge-on-read table: point and range
    * reads beside positional deletes, MoR upserts, appends and periodic
    * vector coalescing or compaction. Every read is checked against an
    * in-memory shadow of the op log. One op of each kind first runs
    * unmeasured on a spare base-table copy, as warm-up. */
  def lakeServe(c: Ctx): Unit = {
    import c.{spark, tr, out}
    import Gen._
    val seed = c.seed
    val ops = lakeOps(seed, LakeRows, c.units(LakeCyclesPerS, 3), LakeReadsPerWrite,
      LakeMaintainEvery, LakeRangeWidth, LakeWriteWidth, LakeAppendRows)
    val warmOps = Vector(PointRead(1L), RangeRead(0L, LakeRangeWidth - 1),
      Delete(LakeRows / 2, LakeRows / 2 + LakeWriteWidth - 1),
      Upsert(LakeRows / 3, LakeRows / 3 + LakeWriteWidth - 1, 1L),
      Append(LakeRows, LakeAppendRows), Coalesce, Compact)
    val maxK = LakeRows + ops.collect { case a: Append => a.count }.sum
    // shadow: v per key, -1 once deleted
    val shadow = Array.tabulate(maxK.toInt)(k =>
      if (k < LakeRows) lakeV(seed, k.toLong) else -1L)
    val statsCols = Seq("k", "id")
    val bloomCols = Seq("id")

    val bases = setupReps(c, "lake_base") { d =>
      TxnTable.commitOverwrite(
        lakeRows(spark, seed, 0, LakeRows, (LakeRows / LakeRowsPerFile).toInt),
        new File(d, "lake").getPath, statsCols = statsCols,
        bloomCols = bloomCols, mor = Some(true))
    }.map(new File(_, "lake").getPath)
    val table = bases.last

    val reads = mutable.Map.empty[String, mutable.ArrayBuffer[(Cost, Int, Int)]]
    val writes = mutable.Map.empty[String, mutable.ArrayBuffer[Cost]]
    // traced runs only: data files in the latest snapshot, re-read after
    // each write rather than on every read, to keep tracing cheap
    var dataFiles = 0
    def countDataFiles(): Unit = if (tr.listener.isDefined)
      dataFiles = TxnTable.snapshotFiles(spark, table,
        TxnTable.latestVersion(spark, table).get).size
    countDataFiles()
    def spanIf[A](measured: Boolean, layer: String, name: String)(body: => A): A =
      if (measured) tr.span(layer, name)(body) else body
    // Reads go through the graft data source, the path SQL queries take:
    // TxnTable.readEquals/readRange skip merge-on-read delete files and
    // return deleted and superseded rows (see README.md).
    def read(t: String, kind: String, filter: org.apache.spark.sql.Column,
             record: Boolean): (Long, Long) = {
      val q = spark.read.format("graft").load(t).filter(filter)
        .agg(count(lit(1)), coalesce(sum(col("v")), lit(0L)))
      val ((n, s), cost) = measure(spanIf(record, "io.read", kind) {
        val r = q.head()
        (r.getLong(0), r.getLong(1))
      })
      if (record) {
        val files =
          if (tr.listener.isEmpty) (0, 0)
          else {
            val scans = graftScans(q.queryExecution.executedPlan)
            log(s"$kind: graft scans read ${scans.mkString(",")} of $dataFiles data files")
            (if (scans.isEmpty) 0 else scans.max, dataFiles)
          }
        reads.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ((cost, files._1, files._2))
      }
      (n, s)
    }
    def expect(lo: Long, hi: Long): (Long, Long) = {
      var n = 0L; var s = 0L
      var k = lo
      while (k <= hi) { if (shadow(k.toInt) >= 0) { n += 1; s += shadow(k.toInt) }; k += 1 }
      (n, s)
    }

    /** Runs one op on table `t`. Measured ops are recorded, keep the
      * shadow in step and return their answer checks. */
    def run(t: String, op: Op, measured: Boolean): Seq[(Boolean, String)] = {
      def write(kind: String, layer: String, span: String)(body: => Long): Unit = {
        val cost = measure(spanIf(measured, layer, span)(body))._2
        if (measured) writes.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += cost
      }
      def check(got: (Long, Long), want: => (Long, Long)) =
        if (measured) Seq((got == want, s"got $got, want $want")) else Nil
      op match {
        case PointRead(k) =>
          check(read(t, "point", col("id") === lit(lakeId(seed, k)), measured), expect(k, k))
        case RangeRead(lo, hi) =>
          check(read(t, "range", col("k").between(lo, hi), measured), expect(lo, hi))
        case Delete(lo, hi) =>
          write("delete", "io.commit", "delete")(
            TxnTable.deleteWherePos(spark, t, _ => col("k").between(lo, hi)))
          if (measured) (lo to hi).foreach(k => shadow(k.toInt) = -1L)
          Nil
        case Upsert(lo, hi, gen) =>
          write("upsert", "io.commit", "upsert")(
            TxnTable.upsertMoR(spark, t, "update", (snap, _) => {
              val hit = snap.filter(col("k").between(lo, hi))
              Some(TxnTable.MorWrite(Seq("k"), hit.select(col("k")),
                Some(hit.withColumn("v",
                  (col("v") + lit(7L * gen) + col("k")) % lit(1000L)))))
            }))
          if (measured) (lo to hi).foreach { k =>
            val v = shadow(k.toInt)
            if (v >= 0) shadow(k.toInt) = upserted(v, k, gen)
          }
          Nil
        case Append(from, n) =>
          write("append", "io.commit", "append")(
            TxnTable.commitAppend(lakeRows(spark, seed, from, from + n, 1),
              t, statsCols = statsCols, bloomCols = bloomCols))
          if (measured) (from until from + n).foreach(k => shadow(k.toInt) = lakeV(seed, k))
          Nil
        case Coalesce =>
          write("maintenance", "io.maintenance", "coalesce")(
            TxnTable.coalescePosVectors(spark, t))
          Nil
        case Compact =>
          write("maintenance", "io.maintenance", "compact")(
            TxnTable.compactSmall(spark, t, LakeSmallBytes))
          Nil
      }
    }

    log(f"warm-up ops: ${timed(warmOps.foreach(run(bases.head, _, measured = false)))._2}%.3f s")
    val (_, wall) = timed(tr.span("bench", "measured") {
      ops.foreach { op =>
        val (_, t) = measure(out.op(op.toString)(run(table, op, measured = true)))
        log(f"$op: ${t.wallS * 1e3}%.1f ms, cpu ${t.cpuS}%.2f s")
        if (!op.isRead) countDataFiles()
      }
    })
    out.measuredWallS = wall
    out.op("final table") {
      val r = TxnTable.read(spark, table)
        .agg(count(lit(1)), coalesce(sum(col("v")), lit(0L))).head()
      val got = (r.getLong(0), r.getLong(1))
      val want = expect(0, maxK - 1)
      Seq((got == want, s"whole table: got $got, want $want"))
    }

    val readCost = reads.values.flatten.map(_._1).toSeq
    val writeCost = writes.values.flatten.toSeq
    val readS = readCost.map(_.wallS)
    val writeS = writeCost.map(_.wallS)
    out.costs(readCost.map(_.cpuS), mean(writeCost.map(_.cpuS)), ops.size.toDouble,
      (readCost ++ writeCost).map(_.cpuS).sum)
    out.named ++= Seq("serve.read_p50_ms" -> (median(readS) * 1e3, "ms"),
      "serve.read_p90_ms" -> (tail(readS) * 1e3, "ms"),
      "serve.write_p50_ms" -> (median(writeS) * 1e3, "ms"),
      "serve.ops_per_s" -> (ops.size / wall, "1/s"))

    if (tr.listener.isDefined) {
      def r(kind: String) = reads.getOrElse(kind, mutable.ArrayBuffer.empty).toSeq
      def w(kind: String) = writes.getOrElse(kind, mutable.ArrayBuffer.empty).toSeq
      val readSpans = tr.costOf("io.read", "point") + tr.costOf("io.read", "range")
      val (m, b) = logCost(spark, table)
      out.perLayer ++= Seq(
        "io.read.point.wall_ms" -> median(r("point").map(_._1.wallS)) * 1e3,
        "io.read.range.wall_ms" -> median(r("range").map(_._1.wallS)) * 1e3,
        "io.read.point.files_scanned_ratio" -> ratio(
          r("point").map(_._2).sum.toDouble, r("point").map(_._3).sum.toDouble),
        "io.read.range.files_scanned_ratio" -> ratio(
          r("range").map(_._2).sum.toDouble, r("range").map(_._3).sum.toDouble),
        "io.read.jobs_per_op" -> ratio(readSpans.jobs.toDouble, readS.size.toDouble),
        "io.read.driver_gap_ms" -> ratio(readSpans.driverGapS * 1e3, readS.size.toDouble),
        "io.commit.delete.wall_ms" -> median(w("delete").map(_.wallS)) * 1e3,
        "io.commit.upsert.wall_ms" -> median(w("upsert").map(_.wallS)) * 1e3,
        "io.commit.append.wall_ms" -> median(w("append").map(_.wallS)) * 1e3,
        "io.maintenance.wall_s" -> w("maintenance").map(_.wallS).sum,
        "io.log_read_manifests" -> m.toDouble,
        "io.log_read_bytes" -> b.toDouble,
        "io.bytes_stored_per_live_byte" -> ratio(
          du(new File(table)).toDouble, liveBytes(spark, table).toDouble))
    }
  }

  val all: Map[String, Ctx => Unit] = Map(
    "wallet_medallion" -> walletMedallion,
    "corpus_ingest" -> corpusIngest,
    "lake_serve" -> lakeServe)
}
