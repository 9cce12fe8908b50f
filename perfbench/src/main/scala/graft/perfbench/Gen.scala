package graft.perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

/** Seeded input generators. Every value is a pure function of the seed
  * (and, for lake rows, of the row key), so one seed always yields
  * byte-identical inputs and the answer checks can be computed here,
  * without asking the engine. */
object Gen {

  /** SplitMix64's finalizer: a bijection on 64-bit values. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Sequential seeded stream; `stream` separates generators that share
    * a seed. */
  final class Rng(seed: Long, stream: Long) {
    private var s = mix(mix(seed) ^ stream)
    def nextLong(): Long = { s += 0x9E3779B97F4A7C15L; mix(s) }
    /** Uniform in [0, n). */
    def below(n: Long): Long = java.lang.Long.remainderUnsigned(nextLong(), n)
    def int(n: Int): Int = below(n.toLong).toInt
    def chance(p: Double): Boolean = (nextLong() >>> 11) / 9007199254740992.0 < p
  }

  // ------------------------------------------------------------ wallet

  /** What the landing file must turn into: the row count and the
    * histograms the feature stage's label encodings must reproduce. */
  final case class WalletTruth(rows: Long, bytes: Long,
      marca: Map[Int, Long], diasCategory: Map[Int, Long])

  private val brands = Array("CYRELA", "Cyrela", "LIVING", "living", "VIVAZ",
    "Vivaz", "SKY", "OTHER")
  private def brandCode(b: String): Int = b.toLowerCase match {
    case "cyrela" => 1
    case "living" => 2
    case "vivaz" => 3
    case _ => 0
  }
  private val regionals = Array("São Paulo", "Rio de Janeiro", "Campinas",
    "Porto Alegre")

  /** A landing-zone wallet CSV in the reference's shape: `dd/MM/yyyy`
    * dates, zero-padded `empresa`, UTF-8 `São Paulo`, and mostly empty
    * `dt_reneg`/`status`. Header names are the canonical columns. */
  def walletCsv(seed: Long, rows: Int, out: File): WalletTruth = {
    val r = new Rng(seed, 1L)
    val marca = new Array[Long](4)
    val cat = new Array[Long](3)
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(out), StandardCharsets.UTF_8), 1 << 20)
    val sb = new java.lang.StringBuilder(256)
    def pad(v: Long, width: Int): Unit = {
      val s = v.toString
      var i = s.length
      while (i < width) { sb.append('0'); i += 1 }
      sb.append(s)
    }
    def date(): Unit = {
      pad(1 + r.below(28), 2); sb.append('/')
      pad(1 + r.below(12), 2); sb.append('/')
      sb.append(1995 + r.below(30))
    }
    def money(maxCents: Long): Unit = {
      val c = 1 + r.below(maxCents)
      sb.append(c / 100).append('.'); pad(c % 100, 2)
    }
    try {
      w.write(graft.wallet.Wallet.columns.mkString(","))
      w.write('\n')
      var i = 0
      while (i < rows) {
        sb.setLength(0)
        pad(1 + r.below(999), 4); sb.append(',')                   // empresa
        val b = brands(r.int(brands.length))
        marca(brandCode(b)) += 1
        sb.append(b).append(',')                                   // marca
        sb.append("EMP ").append(r.below(5000)).append(',')        // empreendimento
        sb.append("CLIENTE ").append(i).append(',')                // cliente
        sb.append(regionals(r.int(regionals.length))).append(',') // regional
        sb.append(1 + r.below(9000)).append(',')                   // obra
        pad(1 + r.below(99), 2); sb.append(',')                    // bloco
        sb.append(1 + r.below(2999)).append(',')                   // unidade
        date(); sb.append(',')                                     // dt_venda
        date(); sb.append(',')                                     // dt_chaves
        sb.append(1 + r.below(900000)).append(',')                 // carteira_sd_gerencial
        money(100000000L); sb.append(',')                          // saldo_devedor
        date(); sb.append(',')                                     // data_base
        money(2000000L); sb.append(',')                            // total_atraso
        sb.append(r.below(8)).append(',')                          // faixa_de_atraso
        val dias = -r.below(1200)
        cat(if (dias >= -30) 0 else if (dias >= -90) 1 else 2) += 1
        sb.append(dias).append(',')                                // dias_atraso
        money(50000000L); sb.append(',')                           // valor_pago_atualizado
        money(50000000L); sb.append(',')                           // valor_pago
        if (r.chance(0.1)) sb.append("RENEGOCIADO")
        sb.append(',')                                             // status
        if (r.chance(0.1)) date()
        sb.append(',')                                             // dt_reneg
        sb.append(if (r.chance(0.5)) "S" else "N").append(',')     // descosn
        sb.append(if (r.chance(0.3)) "1" else "0").append(',')     // vaga
        money(300000000L)                                          // vgv
        sb.append('\n')
        w.append(sb)
        i += 1
      }
    } finally w.close()
    WalletTruth(rows.toLong, out.length(),
      marca.indices.map(i => i -> marca(i)).filter(_._2 > 0).toMap,
      cat.indices.map(i => i -> cat(i)).filter(_._2 > 0).toMap)
  }

  // ------------------------------------------------------------ corpus

  final case class Doc(id: Long, lang: String, text: String)

  /** A bootstrap batch plus daily increments. `originals` are the ids
    * that must survive dedup; every other id is a planted exact copy of
    * an original with a lower id. */
  final case class Corpus(batches: Vector[Vector[Doc]], originals: Array[Long]) {
    def copies: Int = batches.map(_.size).sum - originals.length
  }

  private val langs = Array("en", "pt", "es", "de")

  /** Every batch holds exactly `copies` planted copies at seeded
    * positions, half of them (all, in the bootstrap) copying an earlier
    * document of the same batch and the rest an original of an earlier
    * batch; the structure is the same for every seed, so seeds vary
    * which documents repeat, not how many. Unrelated documents draw each
    * token from a ~2^40-word vocabulary, so no two of them share a
    * 3-token shingle and their minhash bands cannot collide. */
  def corpus(seed: Long, bootstrap: Int, increments: Int, perIncrement: Int,
             copies: Int): Corpus = {
    val r = new Rng(seed, 2L)
    val earlier = scala.collection.mutable.ArrayBuffer.empty[String]
    val originals = scala.collection.mutable.ArrayBuffer.empty[Long]
    var next = 1L
    def batch(n: Int, first: Boolean): Vector[Doc] = {
      val slots = new scala.util.Random(r.nextLong()).shuffle((1 until n).toVector)
        .take(copies)
      val crossSlots = if (first) Set.empty[Int] else slots.take(copies / 2).toSet
      val copySlots = slots.toSet
      val mine = scala.collection.mutable.ArrayBuffer.empty[String]
      val docs = Vector.tabulate(n) { i =>
        val id = next
        next += 1
        val text =
          if (crossSlots(i)) earlier(r.int(earlier.size))
          else if (copySlots(i) && mine.nonEmpty) mine(r.int(mine.size))
          else {
            val t = Array.fill(12 + r.int(12))(
              java.lang.Long.toString(r.nextLong() >>> 24, 36)).mkString(" ")
            mine += t
            originals += id
            t
          }
        Doc(id, langs(r.int(langs.length)), text)
      }
      earlier ++= mine
      docs
    }
    val bs = batch(bootstrap, first = true) +:
      Vector.fill(increments)(batch(perIncrement, first = false))
    Corpus(bs, originals.toArray)
  }

  // -------------------------------------------------------------- lake

  /** Lake rows are a pure function of (seed, k): `k` is the clustered
    * key, `id` a bijective scramble of it (so ids are unique and spread
    * over every file), `v` the value reads sum. */
  def lakeId(seed: Long, k: Long): Long = mix(k ^ mix(seed ^ 3L))
  def lakeV(seed: Long, k: Long): Long =
    java.lang.Long.remainderUnsigned(mix(k ^ mix(seed ^ 4L)), 1000L)
  def lakePad(seed: Long, k: Long): String =
    java.lang.Long.toString(mix(k ^ mix(seed ^ 5L)) >>> 1, 36)
  /** The value an upsert with generation `gen` gives a live row. */
  def upserted(v: Long, k: Long, gen: Long): Long = (v + 7L * gen + k) % 1000L

  sealed trait Op { def isRead: Boolean = false }
  final case class PointRead(k: Long) extends Op { override def isRead = true }
  final case class RangeRead(lo: Long, hi: Long) extends Op { override def isRead = true }
  final case class Delete(lo: Long, hi: Long) extends Op
  final case class Upsert(lo: Long, hi: Long, gen: Long) extends Op
  final case class Append(from: Long, count: Long) extends Op
  case object Coalesce extends Op
  case object Compact extends Op

  /** A seeded closed-loop op sequence over a table holding keys
    * [0, baseRows): `cycles` rounds of `readsPerWrite` reads (point and
    * range, alternating) followed by one write (delete, upsert, append,
    * in turn), with a maintenance op (coalesce, then compaction,
    * alternating) after every `maintainEvery` writes. The shape is the
    * same for every seed; the seed picks the keys. */
  def lakeOps(seed: Long, baseRows: Long, cycles: Int, readsPerWrite: Int,
              maintainEvery: Int, rangeWidth: Long, writeWidth: Long,
              appendRows: Long): Vector[Op] = {
    val r = new Rng(seed, 6L)
    var maxK = baseRows
    (0 until cycles).toVector.flatMap { c =>
      val reads = Vector.tabulate(readsPerWrite) { i =>
        if (i % 2 == 0) PointRead(r.below(maxK))
        else {
          val lo = r.below(maxK - rangeWidth)
          RangeRead(lo, lo + rangeWidth - 1)
        }
      }
      val write = c % 3 match {
        case 0 =>
          val lo = r.below(maxK - writeWidth)
          Delete(lo, lo + writeWidth - 1)
        case 1 =>
          val lo = r.below(maxK - writeWidth)
          Upsert(lo, lo + writeWidth - 1, c.toLong)
        case _ =>
          val a = Append(maxK, appendRows)
          maxK += appendRows
          a
      }
      val maintenance =
        if ((c + 1) % maintainEvery != 0) Vector.empty
        else if (((c + 1) / maintainEvery) % 2 == 1) Vector(Coalesce)
        else Vector(Compact)
      reads :+ write :++ maintenance
    }
  }
}
