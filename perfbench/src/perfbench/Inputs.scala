package perfbench

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.gen.DataGen
import graft.operators.Multimodal
import graft.operators.Multimodal.MediaRow

/** One row of the seeded media corpus: its id, kind, the `Multimodal`
  * fixture it carries, and whether its header is broken. */
final case class MediaSpec(docId: Long, kind: String, fixture: Long, corrupt: Boolean)

/** Seeded inputs. Every column is a pure function of (seed, row id), so
  * a seed always yields the same files. The inventory tables have the
  * schema and value domains of the engine's `sf` parquet corpus
  * (region … embeddings) at its smallest scale, 0.001. */
object Inputs {

  private def u(id: Column, seed: Long, salt: String): Column =
    pmod(hash(id, lit(seed), lit(salt)), lit(1000000)).cast("double") / 1000000.0

  private def pick(id: Column, seed: Long, salt: String, xs: String*): Column =
    element_at(array(xs.map(lit): _*), (floor(u(id, seed, salt) * xs.size) + 1).cast("int"))

  private def below(id: Column, seed: Long, salt: String, n: Long): Column =
    floor(u(id, seed, salt) * n).cast("long")

  val NCustomers = 150L
  val NSuppliers = 10L
  val NParts = 200L
  val NOrders = 1500L
  val NEvents = 1000L
  val NDocuments = 500L
  val NEmbeddings = 500L

  def inventoryTables(spark: SparkSession, seed: Long): Map[String, DataFrame] = {
    import spark.implicits._
    val region = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
      .map { case (n, k) => (k, n) }.toDF("r_regionkey", "r_name")
    val nation = (0 until 25).map(k => (k, s"NATION_$k", k % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    def ids(n: Long, c: String) = spark.range(n).toDF(c)
    val c = col("c_custkey")
    val customer = ids(NCustomers, "c_custkey").select(c,
      format_string("Customer#%09d", c).as("c_name"),
      below(c, seed, "cn", 25).cast("int").as("c_nationkey"),
      round(u(c, seed, "cb") * 10999.99 - 999.99, 2).as("c_acctbal"),
      pick(c, seed, "cm", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY").as("c_mktsegment"))
    val s = col("s_suppkey")
    val supplier = ids(NSuppliers, "s_suppkey").select(s,
      format_string("Supplier#%09d", s).as("s_name"),
      below(s, seed, "sn", 25).cast("int").as("s_nationkey"),
      round(u(s, seed, "sb") * 10999.99 - 999.99, 2).as("s_acctbal"))
    val p = col("p_partkey")
    val part = ids(NParts, "p_partkey").select(p,
      concat(pick(p, seed, "pa", "small", "red", "blue", "hot"), lit(" "),
        pick(p, seed, "pn", "ring", "widget", "bolt", "gear", "gizmo")).as("p_name"),
      concat(lit("Brand#"), (below(p, seed, "pb", 25) + 1).cast("string")).as("p_brand"),
      pick(p, seed, "pt", "ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
        "STANDARD").as("p_type"),
      (below(p, seed, "ps", 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + pmod(p, lit(1000)) * 0.1, 2).as("p_retailprice"))
    val o = col("o_orderkey")
    def orderDate(k: Column): Column =
      date_add(to_date(lit("1995-01-01")), below(k, seed, "od", 2404).cast("int"))
    val orders = ids(NOrders, "o_orderkey").select(o,
      below(o, seed, "oc", NCustomers).as("o_custkey"),
      pick(o, seed, "os", "F", "O", "P").as("o_orderstatus"),
      round(u(o, seed, "op") * 498964.89 + 1013.7, 2).as("o_totalprice"),
      orderDate(o).cast("timestamp").as("o_orderdate"),
      pick(o, seed, "oo", "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW").as("o_orderpriority"))
    val lk = col("l_orderkey")
    val line = col("l_id")
    val lineitem = ids(NOrders, "l_orderkey")
      .select(lk, explode(sequence(lit(1), (below(lk, seed, "ln", 7) + 1).cast("int")))
        .as("l_linenumber"))
      .withColumn("l_id", lk * 8 + col("l_linenumber"))
      .select(lk,
        below(line, seed, "lp", NParts).as("l_partkey"),
        below(line, seed, "ls", NSuppliers).as("l_suppkey"),
        col("l_linenumber"),
        (below(line, seed, "lq", 50) + 1).cast("double").as("l_quantity"),
        round(u(line, seed, "le") * 104096.06 + 901.82, 2).as("l_extendedprice"),
        (below(line, seed, "ld", 11).cast("double") / 100).as("l_discount"),
        (below(line, seed, "lt", 9).cast("double") / 100).as("l_tax"),
        pick(line, seed, "lr", "A", "N", "R").as("l_returnflag"),
        pick(line, seed, "lst", "F", "O").as("l_linestatus"),
        date_add(orderDate(lk), (below(line, seed, "lsd", 95) + 1).cast("int"))
          .cast("timestamp").as("l_shipdate"))
    val e = col("event_id")
    val events = ids(NEvents, "event_id").select(e,
      timestamp_micros((lit(1704067200L) * 1000000L +
        ((e.cast("double") + u(e, seed, "et")) * (2592000.0e6 / NEvents)).cast("long")))
        .as("ts"),
      below(e, seed, "eu", NCustomers).as("user_id"),
      pick(e, seed, "ey", "click", "error", "purchase", "signup", "view").as("event_type"),
      round(-log(lit(1.0) - u(e, seed, "ev") * 0.9999) * 50 + 0.01, 2).as("value"),
      concat(lit("{\"k\": "), below(e, seed, "ek", 100).cast("string"), lit("}")).as("props"))
    Map("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events,
      "documents" -> DataGen.documents(spark, NDocuments, seed),
      "embeddings" -> DataGen.embeddings(spark, NEmbeddings, 64, seed))
  }

  /** Debezium JSON envelopes over `DataGen.accounts` rows. Keys are
    * skewed (u^3 over the key space), ops follow each key's life: a
    * key's first change is a create, later ones update (90%) or delete
    * (10%), and a deleted key is created again. Returns one batch of
    * lines per tick; lsn increases across batches. */
  def cdcBatches(base: Map[Long, (String, Double)], ticks: Int, perTick: Int,
      seed: Long): Seq[Seq[String]] = {
    val rnd = new scala.util.Random(seed)
    val keys = base.keys.toIndexedSeq.sorted
    val alive = scala.collection.mutable.Map[Long, Boolean]()
    var lsn = 0L
    def row(k: Long, l: Long): String = {
      val (status, bal) = base(k)
      f"""{"account_id":$k,"status":"$status","balance":${bal + l * 0.01}%.2f,"lsn_seen":$l}"""
    }
    (0 until ticks).map { _ =>
      (0 until perTick).map { _ =>
        lsn += 1
        val k = keys(math.min(keys.size - 1, (math.pow(rnd.nextDouble(), 3) * keys.size).toInt))
        val op =
          if (!alive.getOrElse(k, false)) "c" else if (rnd.nextDouble() < 0.1) "d" else "u"
        alive(k) = op != "d"
        val (before, after) = if (op == "d") (row(k, lsn), "null") else ("null", row(k, lsn))
        s"""{"payload":{"op":"$op","before":$before,"after":$after,""" +
          s""""source":{"lsn":$lsn},"ts_ms":${1700000000000L + lsn}}}"""
      }
    }
  }

  /** Seeded media corpus for `CurateMedia.run`, built from the
    * `Multimodal` fixture families that plant near-duplicate pairs
    * (2k, 2k+1): brightness-graded images, gain-scaled audio, trimmed
    * and graded videos. Per pair the seed keeps both members (70%) or
    * one; 8% of payloads get a broken header, and a few text rows have
    * no codec. Doc ids are a seeded permutation. */
  def mediaSpec(seed: Long): Seq[MediaSpec] = {
    val rnd = new scala.util.Random(seed)
    val base = 2000L * Math.floorMod(seed, 1000000L)
    val media = for {
      (kind, pairs) <- Seq("image" -> 100, "audio" -> 100, "video" -> 30)
      k <- 0 until pairs
      r = rnd.nextDouble()
      m <- (if (r < 0.7) Seq(0, 1) else if (r < 0.85) Seq(0) else Seq(1))
    } yield (kind, base + 2 * k + m, rnd.nextDouble() < 0.08)
    val rows = media ++ Seq.fill(10)(("text", -1L, false))
    val ids = rnd.shuffle(rows.indices.map(_ + 1L))
    rows.zip(ids).map { case ((kind, f, bad), id) => MediaSpec(id, kind, f, bad) }
  }

  def media(spark: SparkSession, spec: Seq[MediaSpec]): Dataset[MediaRow] = {
    import spark.implicits._
    spec.toDS().repartition(4).map { s =>
      val payload = s.kind match {
        case "image" => Multimodal.pHashImageFixture(s.fixture)
        case "audio" => Multimodal.spectralAudioFixture(s.fixture)
        case "video" => Multimodal.videoFixture(s.fixture)
        case _ => s"plain text ${s.docId}".getBytes("UTF-8")
      }
      if (s.corrupt) java.util.Arrays.fill(payload, 0, 4, 0.toByte)
      val (w, h) = if (s.kind == "image" || s.kind == "video") (32, 32) else (0, 0)
      MediaRow(s.docId, payload, s.kind, w, h, 0L)
    }
  }

  /** What `CurateMedia.run` with its defaults must keep: per modality,
    * the least doc id of each planted pair among its decodable members;
    * every text row. Returns the kept ids by kind and the decodable count. */
  def mediaExpected(spec: Seq[MediaSpec]): (Map[String, Set[Long]], Long) = {
    val valid = spec.filterNot(_.corrupt)
    val kept = valid.groupBy(s => (s.kind, if (s.kind == "text") s.docId else s.fixture / 2))
      .values.map(g => g.minBy(_.docId)).toSeq
    (kept.groupBy(_.kind).map { case (k, g) => k -> g.map(_.docId).toSet }, valid.size.toLong)
  }
}
