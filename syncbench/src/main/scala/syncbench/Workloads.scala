package syncbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.sql.Timestamp
import java.time.Instant
import java.util.SplittableRandom

import com.fasterxml.jackson.databind.JsonNode
import graft.export.Exporter
import graft.operators.{Explode, Mapping, Snapshot, SnapshotStore}
import graft.sources.GsReader
import graft.streaming.Streaming
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One workload: a seeded generator that writes input files and keeps a
  * model of what every sync must output, the sync itself (library calls
  * only), and an oracle that checks the outputs against the model. */
abstract class Workload(val spark: SparkSession, val seed: Long, val scale: Double) {
  def name: String
  /** Warm syncs run before measuring. */
  def warmup: Int
  /** Input size, for the report. */
  def describe: String
  /** Writes inputs under `dir` and primes state; the run uses the last set-up. */
  def setup(dir: Path): Unit
  /** Untimed preparation of sync `i`'s inputs. */
  def prepare(i: Int): Unit = ()
  /** Records in the input files one sync reads, a file counting each time it is read. */
  def inputRecords: Long
  /** Bytes of the input files sync `i` reads, counted the same way. */
  def inputBytes(i: Int): Long
  /** Directories sync `i` writes to: snapshots, exports and checkpoints. */
  def outputRoots(i: Int): Seq[Path]
  def sync(i: Int, tr: Tracer): Unit
  /** Throws [[OracleMismatch]] when an output of sync `i` disagrees with the model. */
  def check(i: Int): Unit
  /** Breaks an output of sync `i`, so that the self-test can see `check` fail. */
  def tamper(i: Int): Unit
  def cleanup(i: Int): Unit

  protected def scaled(n: Int): Int = math.max(1, math.round(n * scale).toInt)
  protected def rng(stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ stream)
}

object Workload {
  val names = Seq("full_sync", "incremental_sync", "stream_catchup")

  def apply(name: String, spark: SparkSession, seed: Long, scale: Double): Workload = name match {
    case "full_sync"        => new FullSync(spark, seed, scale)
    case "incremental_sync" => new IncrementalSync(spark, seed, scale)
    case "stream_catchup"   => new StreamCatchup(spark, seed, scale)
    case other => throw new IllegalArgumentException(s"unknown workload $other; known: ${names.mkString(", ")}")
  }
}

/** Shared pieces of the generators. */
object Gen {
  val Statuses = Vector("open", "paid", "shipped", "cancelled")
  val Regions = Vector("north", "south", "east", "west", "central")
  private val Words = Vector("Acme", "Globex", "Initech", "Umbrella", "Stark", "Wayne", "Hooli", "Vandelay")
  private val Epoch = Instant.parse("2026-01-01T00:00:00Z").getEpochSecond

  def pick[A](r: SplittableRandom, xs: Vector[A]): A = xs(r.nextInt(xs.size))
  def word(r: SplittableRandom): String = pick(r, Words)
  def otherStatus(r: SplittableRandom, s: String): String =
    Statuses((Statuses.indexOf(s) + 1 + r.nextInt(Statuses.size - 1)) % Statuses.size)
  def money(cents: Long): String = f"${cents / 100}.${cents % 100}%02d"
  def instant(r: SplittableRandom): Instant = Instant.ofEpochSecond(Epoch + r.nextInt(365 * 86400))
  def cents(r: SplittableRandom): Long = 100L + r.nextInt(99900)

  /** A Singer catalog with one stream per (name, key, properties). */
  def catalog(streams: (String, String, Seq[(String, String)])*): String =
    streams.map { case (name, key, props) =>
      val p = props.map { case (n, t) => s""""$n": $t""" }.mkString(", ")
      s"""{"stream": "$name", "tap_stream_id": "$name",
         |  "schema": {"type": "object", "properties": {$p}},
         |  "metadata": [{"breadcrumb": [], "metadata": {"table-key-properties": ["$key"]}}]}""".stripMargin
    }.mkString("{\"streams\": [", ",\n", "]}\n")

  val Integer = """{"type": ["null", "integer"]}"""
  val Number = """{"type": ["null", "number"]}"""
  val Str = """{"type": ["null", "string"]}"""
  val DateTime = """{"type": ["null", "string"], "format": "date-time"}"""

  def text(n: JsonNode, field: String): String =
    Option(n.get(field)).filterNot(_.isNull).map(_.asText()).getOrElse("")
  def cents(n: JsonNode, field: String): Long = math.round(n.get(field).asDouble() * 100)
  def long(r: Row, i: Int): Long = r.getAs[Number](i).longValue
  def cents(r: Row, i: Int): Long = math.round(r.getDouble(i) * 100)
}

/** The first sync of a tenant: orders with nested line items, typed by the
  * catalog, exploded, mapped with a customer lookup, snapshotted into an
  * empty store, and exported to Singer and to Parquet. */
final class FullSync(spark: SparkSession, seed: Long, scale: Double) extends Workload(spark, seed, scale) {
  import Gen._
  val name = "full_sync"
  val warmup = 3
  private val nOrders = scaled(6000)
  private val nCustomers = scaled(1000)
  private val Pk = Seq("order_id", "line_no")
  private val CustomerSchema = StructType(Seq(StructField("Id", LongType),
    StructField("Name", StringType), StructField("Region", StringType)))
  private val MappingJson =
    """{"order_id": "Id", "line_no": "Line Detail.Line", "sku": "Line Detail.Sku",
      | "qty": "Line Detail.Qty", "amount": "Line Detail.Amount", "taxable": "Line Detail.Taxable",
      | "status": "Status", "created_at": "CreatedAt",
      | "customer": {"pick": {"objects": "Customers", "id_field": "Id", "filter_ids": "rec.CustomerId",
      |   "target_fields": ["Name", "Region"]}}}""".stripMargin

  private var dir: Path = _
  private var expected = Digest.empty
  private def in = dir.resolve("in")
  private def out(i: Int) = dir.resolve(f"s$i%05d")
  private def etl(i: Int) = out(i).resolve("etl-output")

  def describe = s"$nOrders orders with ${expected.n} line items, $nCustomers customers"
  def inputRecords: Long = nOrders.toLong + nCustomers
  def inputBytes(i: Int): Long = Tree.size(in)
  def outputRoots(i: Int): Seq[Path] = Seq(out(i))

  private def lineRow(order: Long, line: Long, cents: Long, qty: Long, sku: String, status: String,
      customer: String) = s"$order|$line|$cents|$qty|$sku|$status|$customer"

  def setup(d: Path): Unit = {
    dir = d
    Files.createDirectories(in)
    val r = rng(1)
    val customers = (1 to nCustomers).map(id => Row(id.toLong, f"Customer $id%05d ${word(r)}", pick(r, Regions)))
    Tree.writeParquet(customers, CustomerSchema, in.resolve("Customers-20261017T000000.parquet"))
    Files.writeString(in.resolve("catalog.json"), catalog(
      ("Orders", "Id", Seq("Id" -> Integer, "CustomerId" -> Integer, "Status" -> Str,
        "Total" -> Number, "CreatedAt" -> DateTime, "Line Detail" -> Str)),
      ("Customers", "Id", Seq("Id" -> Integer, "Name" -> Str, "Region" -> Str))))
    var want = Digest.empty
    val w = Files.newBufferedWriter(in.resolve("Orders-20261017T000000.csv"), UTF_8)
    try {
      w.write("Id,CustomerId,Status,Total,CreatedAt,Line Detail\n")
      for (id <- 1 to nOrders) {
        val cust = 1 + r.nextInt(nCustomers)
        val status = pick(r, Statuses)
        val items = (1 to 1 + r.nextInt(5)).map { line =>
          (line, f"SKU-${r.nextInt(5000)}%05d", 1 + r.nextInt(9), Gen.cents(r), r.nextBoolean())
        }
        val literal = items.map { case (line, sku, qty, c, taxable) =>
          s"{'Line': $line, 'Sku': '$sku', 'Qty': $qty, 'Amount': ${money(c)}, " +
            s"'Taxable': ${if (taxable) "True" else "False"}, 'Note': None}"
        }.mkString("[", ", ", "]")
        w.write(s"""$id,$cust,$status,${money(items.map(_._4).sum)},${instant(r)},"$literal"\n""")
        val custName = customers(cust - 1).getString(1)
        items.foreach { case (line, sku, qty, c, _) => want = want + lineRow(id, line, c, qty, sku, status, custName) }
      }
    } finally w.close()
    expected = want
  }

  def sync(i: Int, tr: Tracer): Unit = {
    val reader = new GsReader(spark, in.toString, Some(in.resolve("catalog.json").toString))
    val orders = tr.frame("sources", "get Orders") { reader.get("Orders", catalogTypes = true).get }
    val customers = tr.frame("sources", "get Customers") { reader.get("Customers").get }
    val lines = tr.frame("explode", "explodeJsonToRows") { Explode.explodeJsonToRows(orders, "Line Detail") }
    val mapped = tr.frame("mapping", "mapFields") {
      Mapping.mapFields(lines, MappingJson, Map("Customers" -> customers))
    }
    val store = new SnapshotStore(spark, out(i).resolve("snapshots").toString)
    val snap = tr.frame("snapshot", "snapshotRecords") { Snapshot.snapshotRecords(store, "OrderLines", mapped, Pk) }
    tr.call("singer", "export singer") {
      Exporter.export(snap, "OrderLines", etl(i).toString, "singer", keyProperties = Pk, env = Map.empty)
    }
    tr.call("export", "export parquet") {
      Exporter.export(snap, "OrderLines", etl(i).toString, "parquet", env = Map.empty)
    }
  }

  def check(i: Int): Unit = {
    val s = SingerFile.scan(etl(i).resolve("OrderLines.singer")) { r =>
      lineRow(r.get("order_id").asLong, r.get("line_no").asLong, cents(r, "amount"), r.get("qty").asLong,
        text(r, "sku"), text(r, "status"), text(r.get("customer"), "Name"))
    }
    Oracle.expect("singer SCHEMA messages", s.schemas, 1)
    Oracle.expect("singer STATE messages", s.states, 1)
    Oracle.expect("singer records", s.digest, expected)
    val pq = spark.read.parquet(etl(i).resolve("OrderLines").toString)
      .select("order_id", "line_no", "amount", "qty", "sku", "status", "customer.Name").collect()
    Oracle.expect("parquet export", Digest.of(pq.iterator.map(r => lineRow(long(r, 0), long(r, 1),
      Gen.cents(r, 2), long(r, 3), r.getString(4), r.getString(5), r.getString(6)))), expected)
  }

  def tamper(i: Int): Unit = SingerFile.dropLastRecord(etl(i).resolve("OrderLines.singer"))
  def cleanup(i: Int): Unit = Tree.delete(out(i))
}

/** Repeated CDC syncs against a primed snapshot: each batch holds changed
  * rows, unchanged re-sends that the row-hash CDC must drop, and a few new
  * keys. Fresh rows get remote ids from an ids snapshot and go to Singer. */
final class IncrementalSync(spark: SparkSession, seed: Long, scale: Double) extends Workload(spark, seed, scale) {
  import Gen._
  val name = "incremental_sync"
  val warmup = 1
  private val nPrimed = scaled(10000)
  private val batchRows = scaled(400)
  private val nNew = math.max(1, batchRows / 50)
  private val nChanged = (batchRows - nNew) / 2
  private val nSame = batchRows - nNew - nChanged
  private val Pk = Seq("Id")
  private val Header = "Id,CustomerId,Status,Total,UpdatedAt\n"
  private val IdsSchema = StructType(Seq(StructField("InputId", LongType), StructField("RemoteId", StringType)))

  private final case class Order(id: Long, customer: Long, status: String, cents: Long, updatedAt: Instant) {
    def csv = s"$id,$customer,$status,${money(cents)},$updatedAt\n"
    def snapRow = s"$id|$cents|$status"
    def freshRow(updated: Boolean) = s"$id|$cents|$status|$updated|${if (id <= nPrimed) s"R$id" else ""}"
  }

  private var dir: Path = _
  private var r: SplittableRandom = _
  private val model = ArrayBuffer[Order]()
  private var snap = Digest.empty
  /** Per batch: the fresh rows Singer must get, and the snapshot after it. */
  private val wantFresh, wantSnap = ArrayBuffer[Digest]()

  private def store = new SnapshotStore(spark, dir.resolve("snapshots").toString)
  private def catalogPath = dir.resolve("catalog.json")
  private def batchDir(i: Int) = dir.resolve(f"in/b$i%05d")
  private def out(i: Int) = dir.resolve(f"out/s$i%05d")

  def describe = s"$nPrimed primed rows, batches of $batchRows " +
    s"($nChanged changed, $nSame unchanged, $nNew new)"
  def inputRecords: Long = batchRows
  def inputBytes(i: Int): Long = Tree.size(batchDir(i)) + Files.size(catalogPath)
  def outputRoots(i: Int): Seq[Path] = Seq(dir.resolve("snapshots"), out(i))

  private def order(id: Long): Order =
    Order(id, 1 + r.nextInt(5000), pick(r, Statuses), Gen.cents(r), instant(r))

  private def writeCsv(target: Path, rows: Iterable[Order]): Unit = {
    Files.createDirectories(target.getParent)
    val w = Files.newBufferedWriter(target, UTF_8)
    try { w.write(Header); rows.foreach(o => w.write(o.csv)) } finally w.close()
  }

  def setup(d: Path): Unit = {
    dir = d
    r = rng(2)
    model.clear(); wantFresh.clear(); wantSnap.clear()
    Files.createDirectories(dir)
    Files.writeString(catalogPath, catalog(("Orders", "Id", Seq("Id" -> Integer, "CustomerId" -> Integer,
      "Status" -> Str, "Total" -> Number, "UpdatedAt" -> DateTime))))
    (1 to nPrimed).foreach(id => model += order(id))
    snap = Digest.of(model.iterator.map(_.snapRow))
    val prime = dir.resolve("prime")
    writeCsv(prime.resolve("Orders-20261017T000000.csv"), model)
    // the tenant's earlier syncs, through the library: hash snapshot,
    // record snapshot, and the ids the target system handed back
    val reader = new GsReader(spark, prime.toString, Some(catalogPath.toString))
    val fresh = Snapshot.dropRedundant(store, "Orders", reader.get("Orders", catalogTypes = true).get, Pk,
      updatedFlag = true)
    Snapshot.snapshotRecords(store, "Orders", fresh.drop("_updated"), Pk)
    store.write("Ids", spark.createDataFrame(model.map(o => Row(o.id, s"R${o.id}")).asJava, IdsSchema))
    Tree.delete(prime)
  }

  /** Batches are generated in order, each against the model state the
    * previous one left, so sync `i` always sees the same batch for a seed. */
  override def prepare(i: Int): Unit = while (wantFresh.size <= i) {
    val picked = mutable.LinkedHashSet[Int]()
    while (picked.size < nChanged + nSame) picked += r.nextInt(model.size)
    val (changed, same) = picked.toSeq.splitAt(nChanged)
    val rows = ArrayBuffer[Order]()
    var fresh = Digest.empty
    changed.foreach { k =>
      val old = model(k)
      val now = old.copy(status = otherStatus(r, old.status), cents = Gen.cents(r), updatedAt = instant(r))
      model(k) = now
      snap = snap - old.snapRow + now.snapRow
      rows += now
      fresh = fresh + now.freshRow(updated = true)
    }
    same.foreach(k => rows += model(k))
    (1 to nNew).foreach { _ =>
      val o = order(model.size + 1L)
      model += o
      snap = snap + o.snapRow
      rows += o
      fresh = fresh + o.freshRow(updated = false)
    }
    writeCsv(batchDir(wantFresh.size).resolve(f"Orders-20261017T${wantFresh.size}%06d.csv"), rows)
    wantFresh += fresh
    wantSnap += snap
  }

  def sync(i: Int, tr: Tracer): Unit = {
    val reader = new GsReader(spark, batchDir(i).toString, Some(catalogPath.toString))
    val delta = tr.frame("sources", "get Orders") { reader.get("Orders", catalogTypes = true).get }
    val fresh = tr.frame("snapshot", "dropRedundant") {
      Snapshot.dropRedundant(store, "Orders", delta, Pk, updatedFlag = true)
    }
    // the merged snapshot it returns is not used further, so it is not materialized
    tr.call("snapshot", "snapshotRecords") { Snapshot.snapshotRecords(store, "Orders", fresh.drop("_updated"), Pk) }
    val ids = tr.frame("snapshot", "read Ids") { store.read("Ids").get }
    val withIds = tr.frame("snapshot", "mergeIdFromSnapshot") {
      Snapshot.mergeIdFromSnapshot(fresh, ids, externalIdCol = "Id", targetCol = "RemoteId")
    }
    tr.call("singer", "export singer") {
      Exporter.export(withIds, "Orders", out(i).toString, "singer", keyProperties = Pk, env = Map.empty)
    }
  }

  def check(i: Int): Unit = {
    val s = SingerFile.scan(out(i).resolve("Orders.singer")) { r =>
      s"${r.get("Id").asLong}|${cents(r, "Total")}|${text(r, "Status")}|${r.get("_updated").asBoolean}|" +
        text(r, "RemoteId")
    }
    Oracle.expect("singer SCHEMA messages", s.schemas, 1)
    Oracle.expect("singer records (fresh rows, _updated, RemoteId)", s.digest, wantFresh(i))
    val snapDir = dir.resolve("snapshots")
    val rows = spark.read.parquet(snapDir.resolve("Orders.snapshot.parquet").toString)
      .select("Id", "Total", "Status").collect()
    Oracle.expect("record snapshot", Digest.of(rows.iterator.map(r => s"${long(r, 0)}|${Gen.cents(r, 1)}|${r.getString(2)}")),
      wantSnap(i))
    Oracle.expect("hash snapshot rows",
      spark.read.parquet(snapDir.resolve("Orders.hash.snapshot.parquet").toString).count(), wantSnap(i).n)
  }

  def tamper(i: Int): Unit = SingerFile.dropLastRecord(out(i).resolve("Orders.singer"))
  def cleanup(i: Int): Unit = { Tree.delete(out(i)); Tree.delete(batchDir(i)) }
}

/** A backlog of parquet micro-batch files caught up with `runAvailableNow`,
  * one file per trigger: first into a snapshot store, then into Singer. Each
  * sync starts from fresh checkpoints and a fresh store. */
final class StreamCatchup(spark: SparkSession, seed: Long, scale: Double) extends Workload(spark, seed, scale) {
  import Gen._
  val name = "stream_catchup"
  val warmup = 4
  private val nFiles = 2
  private val perFile = scaled(1000)
  private val Pk = Seq("Id")
  private val Schema = StructType(Seq(StructField("Id", LongType), StructField("CustomerId", LongType),
    StructField("Status", StringType), StructField("Total", DoubleType), StructField("UpdatedAt", TimestampType)))

  private var dir: Path = _
  private var wantRecords, wantSnap = Digest.empty
  private def backlog = dir.resolve("backlog")
  private def out(i: Int) = dir.resolve(f"s$i%05d")
  private def singer(i: Int) = out(i).resolve("etl-output/Orders.singer")

  def describe = s"$nFiles backlog files of $perFile rows"
  def inputRecords: Long = 2L * nFiles * perFile
  def inputBytes(i: Int): Long = 2 * Tree.size(backlog)
  def outputRoots(i: Int): Seq[Path] = Seq(out(i))

  def setup(d: Path): Unit = {
    dir = d
    Files.createDirectories(backlog)
    val r = rng(3)
    val latest = mutable.HashMap[Long, String]()
    var records = Digest.empty
    var nextId = 1L
    for (k <- 0 until nFiles) {
      // later files update some keys of earlier ones: the upsert keeps the last
      val ids = mutable.LinkedHashSet[Long]()
      while (ids.size < (if (k == 0) 0 else perFile * 3 / 10)) ids += 1 + r.nextLong(nextId - 1)
      while (ids.size < perFile) { ids += nextId; nextId += 1 }
      val rows = ids.toSeq.map { id =>
        val c = Gen.cents(r)
        val status = pick(r, Statuses)
        val row = s"$id|$c|$status"
        latest(id) = row
        records = records + row
        Row(id, 1L + r.nextInt(5000), status, c / 100.0, Timestamp.from(instant(r)))
      }
      // distinct modification times fix the order in which files are picked up
      Tree.writeParquet(rows, Schema, backlog.resolve(f"part-$k%05d.parquet"),
        Some(FileTime.from(Instant.parse("2026-01-01T00:00:00Z").plusSeconds(60L * k))))
    }
    wantRecords = records
    wantSnap = Digest.of(latest.valuesIterator)
  }

  def sync(i: Int, tr: Tracer): Unit = {
    val store = new SnapshotStore(spark, out(i).resolve("snapshots").toString)
    val forUpsert = tr.call("streaming", "readParquetStream") { Streaming.readParquetStream(spark, backlog.toString, Schema) }
    tr.query("streaming", "streamingUpsert") {
      Streaming.runAvailableNow(Streaming.streamingUpsert(forUpsert, store, "Orders", Pk),
        out(i).resolve("checkpoint-upsert").toString)
    }
    val forSinger = tr.call("streaming", "readParquetStream") { Streaming.readParquetStream(spark, backlog.toString, Schema) }
    tr.query("streaming", "streamingSinger") {
      Streaming.runAvailableNow(Streaming.streamingSinger(forSinger, "Orders", singer(i).toString, Pk),
        out(i).resolve("checkpoint-singer").toString)
    }
  }

  def check(i: Int): Unit = {
    val s = SingerFile.scan(singer(i))(r => s"${r.get("Id").asLong}|${cents(r, "Total")}|${text(r, "Status")}")
    Oracle.expect("singer SCHEMA messages (one per micro-batch)", s.schemas, nFiles)
    Oracle.expect("singer STATE messages (one per micro-batch)", s.states, nFiles)
    Oracle.expect("singer records", s.digest, wantRecords)
    val rows = spark.read.parquet(out(i).resolve("snapshots/Orders.snapshot.parquet").toString)
      .select("Id", "Total", "Status").collect()
    Oracle.expect("snapshot after catch-up",
      Digest.of(rows.iterator.map(r => s"${long(r, 0)}|${Gen.cents(r, 1)}|${r.getString(2)}")), wantSnap)
  }

  def tamper(i: Int): Unit = SingerFile.dropLastRecord(singer(i))
  def cleanup(i: Int): Unit = Tree.delete(out(i))
}
