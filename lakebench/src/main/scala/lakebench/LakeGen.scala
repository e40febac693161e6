package lakebench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Seeded input generator for the lake_writes workload, with the model
  * of what the lake must hold after each step. Money and event values
  * are multiples of 1/16 and 1/4, so every sum the checks compare is
  * exact in a double whatever order the engine adds in.
  *
  * The same seed gives byte-identical CSV files and identical GraftLog
  * frames; the engine only ever sees those files and frames. */
final class LakeGen(seed: Long) {
  import LakeGen._

  private def rng(stream: Long, step: Int): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 1000003L + step)

  // ── medallion batches ────────────────────────────────────────────
  private var customers = 0                       // ids 0 until customers
  private val txnCost16 = ArrayBuffer.empty[Long] // by transaction id
  private var txnSum16 = 0L

  def customerCount: Long = customers.toLong
  def transactionCount: Long = txnCost16.size.toLong
  /** Exact SUM(total_cost) the warehouse fact table must hold. */
  def transactionCostSum: Double = txnSum16 / 16.0

  /** Write batch `b`'s three CSV files into `landing`, update the model,
    * and return (rows, bytes) written. */
  def writeBatch(b: Int, landing: Path): (Long, Long) = {
    Files.createDirectories(landing)
    var rows = 0L
    def csv(name: String, header: String)(body: (String => Unit) => Unit): Unit = {
      val w = new BufferedWriter(new OutputStreamWriter(
        Files.newOutputStream(landing.resolve(name)), StandardCharsets.UTF_8))
      try {
        w.write(header); w.write('\n')
        body { line => w.write(line); w.write('\n'); rows += 1 }
      } finally w.close()
    }
    val r = rng(1, b)
    csv(s"proveedores_b$b.csv",
        "ID_Proveedor,NombreProveedor,TipoEnergia,PaisOrigen,FechaInicioContrato") { out =>
      (0 until Suppliers).foreach { i =>
        out(f"P$i%04d,Proveedor $i ${r.nextInt(100)},${pick(r, EnergyTypes)}," +
          s"${pick(r, Countries)},${day(r)}")
      }
    }
    val newCustomers = if (b == 0) CustomersPerBatch else NewCustomersPerBatch
    val resent = distinctSample(r, customers, CustomersPerBatch - newCustomers)
    csv(s"clientes_b$b.csv",
        "ID_Cliente,NombreCliente,TipoCliente,Direccion,Ciudad,Pais") { out =>
      (resent ++ (customers until customers + newCustomers)).foreach { i =>
        out(f"C$i%07d,Cliente $i,${pick(r, CustomerTypes)}," +
          s"Calle ${r.nextInt(200)} No ${r.nextInt(90)},${pick(r, Cities)},${pick(r, Countries)}")
      }
    }
    customers += newCustomers
    val nResent = if (b == 0) 0 else TransactionsPerBatch * ResentPercent / 100
    val ids = distinctSample(r, txnCost16.size, nResent) ++
      (txnCost16.size until txnCost16.size + TransactionsPerBatch - nResent)
    csv(s"transacciones_b$b.csv",
        "ID_Transaccion,ID_Cliente,ID_Proveedor,FechaTransaccion,CantidadEnergiaMWh,PrecioPorMWh") { out =>
      ids.foreach { id =>
        val q = 4 + r.nextInt(3997)  // quantity × 4
        val p = 80 + r.nextInt(721)  // price × 4
        out(f"T$id%09d,C${r.nextInt(customers)}%07d,P${r.nextInt(Suppliers)}%04d," +
          s"${day(r)} ${f"${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02d"}," +
          s"${quarter(q)},${quarter(p)}")
        val cost16 = q.toLong * p
        if (id < txnCost16.size) { txnSum16 += cost16 - txnCost16(id); txnCost16(id) = cost16 }
        else { txnCost16 += cost16; txnSum16 += cost16 }
      }
    }
    val bytes = Files.list(landing).iterator()
    var total = 0L
    bytes.forEachRemaining(f => total += Files.size(f))
    (rows, total)
  }

  // ── GraftLog rounds ──────────────────────────────────────────────
  private val eventQ = ArrayBuffer.empty[Long] // value × 4 by event id; -1 = gone
  private var liveEvents = 0L
  private var eventSumQ = 0L

  def eventCount: Long = liveEvents
  def eventValueSum: Double = eventSumQ / 4.0
  def eventValue(id: Long): Option[Double] =
    if (id < eventQ.size && eventQ(id.toInt) >= 0) Some(eventQ(id.toInt) / 4.0) else None
  def nextEventId: Long = eventQ.size.toLong

  private def setEvent(id: Int, q: Long): Unit = {
    if (id == eventQ.size) eventQ += -1L
    val old = eventQ(id)
    if (old >= 0) { eventSumQ -= old; liveEvents -= 1 }
    if (q >= 0) { eventSumQ += q; liveEvents += 1 }
    eventQ(id) = q
  }

  private def eventRow(r: SplittableRandom, id: Int): (Row, Long) = {
    val q = r.nextInt(4001).toLong
    val ts = new java.sql.Timestamp(EventEpochMs + r.nextLong(EventSpanMs))
    (Row(id.toLong, ts, r.nextInt(Users).toLong, pick(r, EventTypes), q / 4.0), q)
  }

  /** Round `k`'s append batch: AppendRows new events. */
  def appendBatch(k: Int): Seq[Row] = {
    val r = rng(2, k)
    val base = eventQ.size
    (base until base + AppendRows).map { id =>
      val (row, q) = eventRow(r, id); setEvent(id, q); row
    }
  }

  /** Round `k`'s MERGE source: half re-valued live events, half new. */
  def mergeSource(k: Int): Seq[Row] = {
    val r = rng(3, k)
    val matched = ArrayBuffer.empty[Int]
    val seen = scala.collection.mutable.HashSet.empty[Int]
    while (matched.size < MergeRows / 2) {
      val id = r.nextInt(eventQ.size)
      if (eventQ(id) >= 0 && seen.add(id)) matched += id
    }
    val base = eventQ.size
    (matched.toSeq ++ (base until base + MergeRows / 2)).map { id =>
      val (row, q) = eventRow(r, id); setEvent(id, q); row
    }
  }

  /** Round `k`'s DELETE range [lo, lo + DeleteIds) inside its own append
    * block `appendBase`, applied to the model. */
  def deleteRange(k: Int, appendBase: Long): (Long, Long) = {
    val lo = appendBase + rng(4, k).nextInt(AppendRows - DeleteIds)
    (lo until lo + DeleteIds).foreach(id => setEvent(id.toInt, -1L))
    (lo, lo + DeleteIds)
  }

  /** Round `k`'s read targets: PointReads live ids for point lookups
    * and RangeReads id ranges [lo, hi) for range aggregates. */
  def readTargets(k: Int): (Seq[Long], Seq[(Long, Long)]) = {
    val r = rng(5, k)
    val points = Seq.fill(PointReads) {
      var id = r.nextInt(eventQ.size)
      while (eventQ(id) < 0) id = r.nextInt(eventQ.size)
      id.toLong
    }
    val ranges = Seq.fill(RangeReads) {
      val lo = r.nextInt(eventQ.size - RangeIds).toLong
      (lo, lo + RangeIds)
    }
    (points, ranges)
  }

  /** Live events with id in [lo, hi): (count, exact SUM(value)). */
  def eventRange(lo: Long, hi: Long): (Long, Double) = {
    val live = (lo.toInt until hi.toInt).map(eventQ(_)).filter(_ >= 0)
    (live.size.toLong, live.sum / 4.0)
  }
}

object LakeGen {
  val Suppliers = 500
  // Sized for the run budget: per-step Spark overhead, not rows, sets
  // most of a batch's time, so twice the rows (200k transactions, 100k
  // events a round) buys little signal for much longer runs.
  val CustomersPerBatch = 10000
  val NewCustomersPerBatch = 1000
  val TransactionsPerBatch = 100000
  val ResentPercent = 5
  val AppendRows = 50000
  val MergeRows = 10000
  val DeleteIds = 1000
  val RangeIds = 5000
  val PointReads = 30
  val RangeReads = 4
  val Users = 10000
  /** Input size of one generated event: four 8-byte fields and an
    * 8-byte string slot, the row's fixed-width binary size. */
  val RowBytes = 40L

  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  private val EnergyTypes = Array("Solar", "Eolica", "Hidraulica", "Termica", "Nuclear")
  private val Countries = Array("Colombia", "Peru", "Chile", "Mexico", "Espana", "Brasil")
  private val CustomerTypes = Array("Residencial", "Comercial", "Industrial", "Gobierno")
  private val Cities = Array("Bogota", "Lima", "Santiago", "Monterrey", "Madrid", "Recife")
  private val EventTypes = Array("view", "click", "purchase", "refund")
  private val EventEpochMs = 1704067200000L          // 2024-01-01T00:00:00Z
  private val EventSpanMs = 2L * 365 * 86400 * 1000

  private def pick(r: SplittableRandom, xs: Array[String]): String = xs(r.nextInt(xs.length))

  private def day(r: SplittableRandom): String =
    java.time.LocalDate.of(2024, 1, 1).plusDays(r.nextInt(731).toLong).toString

  /** `x / 4` in plain decimal: 12, 12.25, 12.5, 12.75. */
  private def quarter(x: Int): String =
    new java.math.BigDecimal(x).divide(java.math.BigDecimal.valueOf(4)).stripTrailingZeros.toPlainString

  /** `k` distinct ints from [0, n), in draw order. */
  private def distinctSample(r: SplittableRandom, n: Int, k: Int): Seq[Int] = {
    require(k <= n, s"cannot draw $k distinct of $n")
    val seen = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (seen.size < k) seen += r.nextInt(n)
    seen.toSeq
  }
}
