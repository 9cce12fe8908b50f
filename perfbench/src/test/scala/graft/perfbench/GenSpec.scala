package graft.perfbench

import java.io.File
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's inputs must be a function of the seed alone: the same
  * seed gives byte-identical inputs, another seed gives different ones. */
class GenSpec extends AnyFunSuite {

  private def walletBytes(seed: Long): (Array[Byte], Gen.WalletTruth) = {
    val f = File.createTempFile("wallet", ".csv")
    try {
      val truth = Gen.walletCsv(seed, 2000, f)
      (Files.readAllBytes(f.toPath), truth)
    } finally f.delete()
  }

  test("wallet CSV: same seed, same bytes; other seed, other bytes") {
    val (a, ta) = walletBytes(7)
    val (b, tb) = walletBytes(7)
    val (c, _) = walletBytes(8)
    assert(a.sameElements(b))
    assert(ta == tb)
    assert(!a.sameElements(c))
  }

  test("wallet CSV carries the landing quirks and counts what it wrote") {
    val (bytes, truth) = walletBytes(7)
    val lines = new String(bytes, "UTF-8").split("\n").toSeq
    assert(lines.head == graft.wallet.Wallet.columns.mkString(","))
    val rows = lines.tail.map(_.split(",", -1))
    assert(rows.size == 2000 && truth.rows == 2000)
    assert(rows.forall(_.length == graft.wallet.Wallet.columns.size))
    val col = graft.wallet.Wallet.columns.zipWithIndex.toMap
    assert(rows.forall(_(col("empresa")).matches("0\\d{3}")))
    assert(rows.forall(_(col("dt_venda")).matches("\\d{2}/\\d{2}/\\d{4}")))
    assert(rows.exists(_(col("regional")) == "São Paulo"))
    assert(rows.exists(_(col("dt_reneg")).isEmpty))
    assert(rows.exists(_(col("status")).isEmpty))
    assert(truth.marca.values.sum == 2000 && truth.diasCategory.values.sum == 2000)
  }

  test("corpus: deterministic, and every non-original copies a lower id") {
    val a = Gen.corpus(3, 300, 4, 50, 10)
    assert(a.batches == Gen.corpus(3, 300, 4, 50, 10).batches &&
      a.originals.sameElements(Gen.corpus(3, 300, 4, 50, 10).originals))
    assert(a.batches != Gen.corpus(4, 300, 4, 50, 10).batches)
    val docs = a.batches.flatten
    val firstIdOfText = docs.groupBy(_.text).map { case (t, ds) => t -> ds.map(_.id).min }
    assert(a.originals.toSeq == firstIdOfText.values.toSeq.sorted)
    assert(a.copies == 5 * 10)
    // copies cross batch boundaries as well as sitting inside one batch
    val batchOf = a.batches.zipWithIndex.flatMap { case (b, i) => b.map(_.id -> i) }.toMap
    val copies = docs.filterNot(d => firstIdOfText(d.text) == d.id)
    assert(copies.exists(d => batchOf(firstIdOfText(d.text)) < batchOf(d.id)))
    assert(copies.exists(d => batchOf(firstIdOfText(d.text)) == batchOf(d.id)))
  }

  test("corpus: unrelated documents share no 3-token shingle") {
    val a = Gen.corpus(5, 500, 2, 100, 10)
    val texts = a.batches.flatten.map(_.text).distinct
    val shingles = texts.flatMap(_.split(" ").sliding(3).map(_.mkString(" ")).toSeq.distinct)
    assert(shingles.size == shingles.distinct.size)
  }

  test("lake rows are a pure function of (seed, key); ops of the seed") {
    assert(Gen.lakeId(1, 42) == Gen.lakeId(1, 42))
    assert(Gen.lakeId(1, 42) != Gen.lakeId(2, 42))
    assert((0L until 10000L).map(Gen.lakeId(1, _)).distinct.size == 10000)
    def ops(seed: Long) = Gen.lakeOps(seed, 10000, 12, 4, 4, 100, 10, 50)
    assert(ops(1) == ops(1))
    assert(ops(1) != ops(2))
    assert(ops(1).count(_.isRead) == 48)
    assert(ops(1).map(_.getClass) == ops(2).map(_.getClass))
    assert(ops(1).count(o => o == Gen.Coalesce || o == Gen.Compact) == 3)
  }

  test("tail keeps ten samples above it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs) == 90.0)
    assert(Stats.tail(Seq(3.0, 1.0, 9.0)) == 3.0)
    assert(Stats.tail((1 to 15).map(_.toDouble)) == 8.0)
    assert(Stats.median(Seq(1.0, 5.0, 2.0)) == 2.0)
  }

  test("span cost: driver gap is wall time outside the union of jobs") {
    val jobs = Seq((100L, 300L), (200L, 400L), (600L, 700L), (50L, 90L))
    val c = Tracer.cost(Span(0, -1, "x", "y", 100L, 1100L, 1000000000L), jobs, Nil)
    assert(c.jobs == 3)
    assert(math.abs(c.unionS - 0.4) < 1e-9)
    assert(math.abs(c.jobS - 0.5) < 1e-9)
    assert(math.abs(c.driverGapS - 0.6) < 1e-9)
    assert(math.abs(c.jobOverlap - 1.25) < 1e-9)
  }
}
