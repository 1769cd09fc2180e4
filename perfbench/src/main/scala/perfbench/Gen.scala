package perfbench

import java.time.LocalDateTime

import org.apache.spark.sql.{Dataset, SparkSession}

/** Counter-based randomness: every value is a hash of (seed, stream, row,
  * field), so a generated row does not depend on partitioning, task order
  * or on which other rows were generated. Same seed, same bytes. */
object Rng {
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def bits(seed: Long, stream: Long, i: Long, f: Int): Long =
    mix(mix(mix(seed * 0x632BE59BD9B4E019L + stream) + i) + f)
  def unit(seed: Long, stream: Long, i: Long, f: Int): Double =
    (bits(seed, stream, i, f) >>> 11) * (1.0 / (1L << 53))
  def below(seed: Long, stream: Long, i: Long, f: Int, n: Long): Long =
    java.lang.Math.floorMod(bits(seed, stream, i, f), n)
  def pick[T](xs: IndexedSeq[T], seed: Long, stream: Long, i: Long, f: Int): T =
    xs(below(seed, stream, i, f, xs.size).toInt)
  def cents(x: Double): Double = Math.round(x * 100.0) / 100.0
}

// ---------------------------------------------------------------------
// etl_flow: two overlapping "scraped" page sets
// ---------------------------------------------------------------------

final case class PageRow(direccion: String, localidad: String, rubro: String,
                         localizar: String)

/** The scraped shop table of the reference flow: address, town, category
  * and the raw onclick text that carries the coordinates, or a marker
  * without them for a seeded share of rows. Page set B repeats a seeded
  * share of page set A's rows; the rest of B is new. */
final case class EtlSpec(seed: Long, rowsPerSet: Int, pagesPerSet: Int,
                         overlapShare: Double, missingShare: Double,
                         geocodeFailShare: Double) {
  import EtlSpec._
  private val S = 11L

  def row(id: Long): PageRow = {
    val street = Rng.pick(Streets, seed, S, id, 0)
    val num = 1 + Rng.below(seed, S, id, 1, 9000)
    val raw =
      if (Rng.unit(seed, S, id, 2) < missingShare) "sin datos"
      else {
        val lat = -38.0 + 4.0 * Rng.unit(seed, S, id, 3)
        val lng = -63.0 + 5.0 * Rng.unit(seed, S, id, 4)
        "javascript:mapa(%.6f,%.6f)".formatLocal(java.util.Locale.ROOT, lat, lng)
      }
    PageRow(s"$street $num (local $id)", Rng.pick(Towns, seed, S, id, 5),
      Rng.pick(Categories, seed, S, id, 6), raw)
  }

  /** Row ids of set A (0 until n) and set B (a seeded share copied from A,
    * the rest fresh ids from n upward). */
  def idA(j: Long): Long = j
  def idB(j: Long): Long =
    if (Rng.unit(seed, S + 1, j, 0) < overlapShare) Rng.below(seed, S + 1, j, 1, rowsPerSet)
    else rowsPerSet + j

  def write(spark: SparkSession, dir: String, setB: Boolean): Unit = {
    import spark.implicits._
    val spec = this
    spark.range(0, rowsPerSet, 1, pagesPerSet)
      .map(j => spec.row(if (setB) spec.idB(j) else spec.idA(j))).toDF()
      .write.format("graft.sources.PagedTableSource").mode("overwrite")
      .option("path", dir).save()
  }

  /** Distinct row ids of A ∪ B, which is what union + dedup must keep. */
  def distinctIds: Set[Long] =
    (0L until rowsPerSet).iterator.flatMap(j => Iterator(idA(j), idB(j))).toSet

  def missing(id: Long): Boolean = row(id).localizar == "sin datos"

  /** The benchmark geocoder's answer for an address, and whether its first
    * attempt fails transiently. */
  def coords(address: String): String = {
    val h = address.hashCode.toLong
    "%.5f,%.5f".formatLocal(java.util.Locale.ROOT,
      -38.0 + 4.0 * Rng.unit(seed, S + 2, h, 0), -63.0 + 5.0 * Rng.unit(seed, S + 2, h, 1))
  }
  def failsFirst(address: String): Boolean =
    Rng.unit(seed, S + 3, address.hashCode.toLong, 0) < geocodeFailShare
}

object EtlSpec {
  val Streets: IndexedSeq[String] = IndexedSeq("Av. San Martin", "Calle 7", "Rivadavia",
    "Belgrano", "Mitre", "Sarmiento", "Av. Libertador", "Moreno", "Alsina",
    "Lavalle", "Av. 60", "Diagonal 74", "Colon", "Independencia", "Urquiza")
  val Towns: IndexedSeq[String] = IndexedSeq("La Plata", "Quilmes", "Lanus", "Lomas de Zamora",
    "Bahia Blanca", "Mar del Plata", "Tandil", "Moron", "San Isidro", "Tigre",
    "Pilar", "Zarate", "Junin", "Azul", "Olavarria", "Necochea", "Pergamino",
    "Lujan", "Campana", "Chivilcoy", "Berisso", "Ensenada", "Merlo", "Escobar")
  val Categories: IndexedSeq[String] = IndexedSeq("Supermercado", "Farmacia", "Indumentaria",
    "Gastronomia", "Electro", "Libreria", "Jugueteria", "Optica", "Perfumeria",
    "Ferreteria")
}

/** Benchmark-owned geocoder: deterministic coordinates per address, a
  * transient failure on the first attempt for a seeded share of
  * addresses, and call/retry counts kept in Spark accumulators (a counter
  * captured in the closure would be serialized with it and never read
  * back on the driver). Spark deserializes one copy per task and a task
  * geocodes its rows one at a time, so `lastFailed` is task-local. */
final class BenchGeocoder(spec: EtlSpec,
                          calls: org.apache.spark.util.LongAccumulator,
                          retries: org.apache.spark.util.LongAccumulator)
    extends (String => Option[String]) with Serializable {
  @transient private var lastFailed: String = _

  def apply(address: String): Option[String] = {
    calls.add(1)
    if (spec.failsFirst(address) && lastFailed != address) {
      lastFailed = address
      retries.add(1)
      throw new java.io.IOException(s"transient geocoder failure: $address")
    }
    lastFailed = null
    Some(spec.coords(address))
  }
}

// ---------------------------------------------------------------------
// olap_mix: TPC-H-shaped fixtures with the schemas of FIXTURES.md
// ---------------------------------------------------------------------

final case class Region(r_regionkey: Int, r_name: String)
final case class Nation(n_nationkey: Int, n_name: String, n_regionkey: Int)
final case class Customer(c_custkey: Long, c_name: String, c_nationkey: Int,
                          c_acctbal: Double, c_mktsegment: String)
final case class Supplier(s_suppkey: Long, s_name: String, s_nationkey: Int,
                          s_acctbal: Double)
final case class Part(p_partkey: Long, p_name: String, p_brand: String,
                      p_type: String, p_size: Int, p_retailprice: Double)
final case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
                       o_totalprice: Double, o_orderdate: LocalDateTime,
                       o_orderpriority: String)
final case class LineItem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
                          l_linenumber: Int, l_quantity: Double,
                          l_extendedprice: Double, l_discount: Double,
                          l_tax: Double, l_returnflag: String,
                          l_linestatus: String, l_shipdate: LocalDateTime)
final case class Event(event_id: Long, ts: LocalDateTime, user_id: Long,
                       event_type: String, value: Double, props: String)

/** Star-schema + events fixtures at scale factor `sf` (1.0 ≈ 6 M
  * lineitems), one parquet file per table under `<dir>/<table>.parquet`,
  * with the column names and types of the fixture tables the queries were
  * written against (FIXTURES.md; timestamps without time zone). */
final case class OlapSpec(seed: Long, sf: Double) {
  private def n(base: Double): Long = math.max(1L, math.round(base * sf))
  val customers: Long = n(150000)
  val suppliers: Long = n(10000)
  val parts: Long = n(200000)
  val orders: Long = n(1500000)
  val lineitems: Long = n(6000000)
  val events: Long = n(1000000)
  val users: Long = n(15000)

  private val Epoch1995 = LocalDateTime.of(1995, 1, 1, 0, 0)
  private val Epoch2024 = LocalDateTime.of(2024, 1, 1, 0, 0)

  def rowCounts: Map[String, Long] = Map("region" -> 5L, "nation" -> 25L,
    "customer" -> customers, "supplier" -> suppliers, "part" -> parts,
    "orders" -> orders, "lineitem" -> lineitems, "events" -> events)

  def write(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val sd = seed
    def out[T](name: String, ds: Dataset[T]): Unit =
      ds.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def rows(count: Long) = spark.range(0, count, 1, 1)
    out("region", Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      .zipWithIndex.map { case (r, i) => Region(i, r) }.toDS().coalesce(1))
    out("nation", (0 until 25).map(i => Nation(i, s"NATION_$i", i % 5)).toDS().coalesce(1))
    out("customer", rows(customers).map { i =>
      Customer(i, f"Customer#$i%09d", Rng.below(sd, 21, i, 0, 25).toInt,
        Rng.cents(-999.99 + 10999.98 * Rng.unit(sd, 21, i, 1)),
        Rng.pick(OlapSpec.Segments, sd, 21, i, 2))
    })
    out("supplier", rows(suppliers).map { i =>
      Supplier(i, f"Supplier#$i%09d", Rng.below(sd, 22, i, 0, 25).toInt,
        Rng.cents(-999.99 + 10999.98 * Rng.unit(sd, 22, i, 1)))
    })
    out("part", rows(parts).map { i =>
      Part(i, Rng.pick(OlapSpec.Colors, sd, 23, i, 0) + " " + Rng.pick(OlapSpec.Things, sd, 23, i, 1),
        s"Brand#${1 + Rng.below(sd, 23, i, 2, 25)}", Rng.pick(OlapSpec.Types, sd, 23, i, 3),
        1 + Rng.below(sd, 23, i, 4, 50).toInt, Rng.cents(900.0 + (i % 20000) / 10.0))
    })
    val (nc, no, np, ns, nu) = (customers, orders, parts, suppliers, users)
    out("orders", rows(orders).map { i =>
      Order(i, Rng.below(sd, 24, i, 0, nc), Rng.pick(OlapSpec.Statuses, sd, 24, i, 1),
        Rng.cents(1000.0 + 499000.0 * Rng.unit(sd, 24, i, 2)),
        Epoch1995.plusDays(Rng.below(sd, 24, i, 3, 2404)),
        Rng.pick(OlapSpec.Priorities, sd, 24, i, 4))
    })
    out("lineitem", rows(lineitems).map { i =>
      LineItem(Rng.below(sd, 25, i, 0, no), Rng.below(sd, 25, i, 1, np),
        Rng.below(sd, 25, i, 2, ns), 1 + Rng.below(sd, 25, i, 3, 7).toInt,
        (1 + Rng.below(sd, 25, i, 4, 50)).toDouble,
        Rng.cents(900.0 + 104100.0 * Rng.unit(sd, 25, i, 5)),
        Rng.below(sd, 25, i, 6, 11) / 100.0, Rng.below(sd, 25, i, 7, 9) / 100.0,
        Rng.pick(OlapSpec.ReturnFlags, sd, 25, i, 8), Rng.pick(OlapSpec.LineStatus, sd, 25, i, 9),
        Epoch1995.plusDays(1 + Rng.below(sd, 25, i, 10, 2499)))
    })
    // events arrive in event_id order with seeded gaps (30 days in total)
    val gapMicros = 30L * 86400L * 1000000L / events
    out("events", rows(events).map { i =>
      Event(i, Epoch2024.plusNanos(1000L * (i * gapMicros + Rng.below(sd, 26, i, 0, gapMicros))),
        Rng.below(sd, 26, i, 1, nu), Rng.pick(OlapSpec.EventTypes, sd, 26, i, 2),
        Rng.cents(0.01 + 100.0 * -math.log(1.0 - 0.99 * Rng.unit(sd, 26, i, 3)) / 2.0),
        s"""{"k": ${Rng.below(sd, 26, i, 4, 100)}}""")
    })
  }
}

object OlapSpec {
  val Segments: IndexedSeq[String] = IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Colors: IndexedSeq[String] = IndexedSeq("red", "blue", "green", "small", "large", "shiny", "matte", "black")
  val Things: IndexedSeq[String] = IndexedSeq("ring", "widget", "bolt", "gear", "panel", "valve", "spring")
  val Types: IndexedSeq[String] = IndexedSeq("ECONOMY", "SMALL", "STANDARD", "MEDIUM", "LARGE", "PROMO")
  val Statuses: IndexedSeq[String] = IndexedSeq("F", "O", "P")
  val Priorities: IndexedSeq[String] = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val ReturnFlags: IndexedSeq[String] = IndexedSeq("A", "N", "R")
  val LineStatus: IndexedSeq[String] = IndexedSeq("F", "O")
  val EventTypes: IndexedSeq[String] = IndexedSeq("click", "error", "purchase", "signup", "view")
}

// ---------------------------------------------------------------------
// curation_batch: a replicated and perturbed documents corpus
// ---------------------------------------------------------------------

final case class Doc(doc_id: Long, text: String, lang: String, source: String,
                     n_chars: Long)

/** `baseDocs` seeded random documents, each replicated `replicas` times
  * with a seeded share of tokens replaced per copy, so near-duplicate
  * groups exist at a known rate (the ScaleProbe recipe). Copy r of base b
  * has id r × baseDocs + b; ids at or above `splitId` are the delta a
  * refresh adds to the history. */
final case class CorpusSpec(seed: Long, baseDocs: Int, replicas: Int,
                            perturbShare: Double, deltaDocs: Int) {
  val docs: Long = baseDocs.toLong * replicas
  val splitId: Long = docs - deltaDocs

  def doc(id: Long): Doc = {
    val b = id % baseDocs
    val r = id / baseDocs
    val len = 20 + Rng.below(seed, 31, b, 0, 60).toInt
    val words = (0 until len).map { k =>
      if (r > 0 && Rng.unit(seed, 32, id, k) < perturbShare) Rng.pick(CorpusSpec.Vocab, seed, 33, id, k)
      else Rng.pick(CorpusSpec.Vocab, seed, 34, b, k)
    }
    val text = words.mkString(" ")
    Doc(id, text, Rng.pick(CorpusSpec.Langs, seed, 35, b, 0), s"src${b % 20}", text.length.toLong)
  }

  /** Writes the corpus (ids below `upTo`) as `<dir>/documents.parquet`. */
  def write(spark: SparkSession, dir: String, upTo: Long = docs): Unit = {
    import spark.implicits._
    val spec = this
    spark.range(0, upTo, 1, 1).map(i => spec.doc(i)).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
  }
}

object CorpusSpec {
  val Vocab: IndexedSeq[String] = ("key agg row scan slow fast table value part hash merge batch spark a " +
    "the line sort window data column join small customer query order stream filter group " +
    "big vector index shard cache page node graph token model train score rank split load " +
    "write read commit log state delta epoch").split(" ").toIndexedSeq
  /** Weighted like the fixture corpus: mostly English. */
  val Langs: IndexedSeq[String] = IndexedSeq("en", "en", "en", "en", "en", "en", "de", "es", "fr", "zh", "zh")
}

// ---------------------------------------------------------------------
// cdc_mix: change-event batches
// ---------------------------------------------------------------------

final case class CdcEvent(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                          event_type: String, value: Double)

/** Epoch `e`'s batch: `batchEvents` events over `users` keys, event ids
  * and timestamps increasing across epochs. */
final case class CdcSpec(seed: Long, users: Long, batchEvents: Int) {
  private val Base = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli

  def event(epoch: Long, i: Long): CdcEvent = {
    val id = epoch * batchEvents + i
    CdcEvent(id, new java.sql.Timestamp(Base + id * 1000L + Rng.below(seed, 41, id, 0, 1000)),
      Rng.below(seed, 41, id, 1, users), Rng.pick(OlapSpec.EventTypes, seed, 41, id, 2),
      Rng.cents(100.0 * Rng.unit(seed, 41, id, 3)))
  }

  def batch(spark: SparkSession, epoch: Long): Dataset[CdcEvent] = {
    import spark.implicits._
    val spec = this
    spark.range(0, batchEvents, 1, 1).map(i => spec.event(epoch, i))
  }

  def lookupKey(op: Long): Long = Rng.below(seed, 42, op, 0, users)
}

/** Content digest of a generated input tree: file bytes in name order,
  * with Spark's per-write UUID in part-file names normalised away. */
object Digest {
  def of(dir: String): String = {
    val root = java.nio.file.Paths.get(dir)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val walk = java.nio.file.Files.walk(root)
    try {
      walk.filter(java.nio.file.Files.isRegularFile(_)).sorted().forEach { f =>
        val rel = root.relativize(f).toString
          .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "UUID")
        md.update(rel.getBytes("UTF-8"))
        md.update(java.nio.file.Files.readAllBytes(f))
      }
    } finally walk.close()
    md.digest().map("%02x".format(_)).mkString
  }
}
