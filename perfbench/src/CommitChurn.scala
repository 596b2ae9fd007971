package perfbench

import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.lakehouse.{Catalog, QueryApi, TableIO, Txn, Versioned}
import graft.lakehouse.TableIO.MergeClause._

/** One long-lived versioned table under a seeded stream of appends, merges,
  * updates, deletes and two-table transactions, with compaction and vacuum
  * every cycle and reads interleaved: point lookups, full scans, time travel
  * and the change feed. The benchmark replays every batch on a driver-side
  * model of the table and checks each read against the model's digest of
  * the version it should see. */
final class CommitChurn(val ctx: Ctx) extends Workload {
  import CommitChurn._
  private val spark = ctx.spark
  private val Table = "orders_live"
  /** The change feed is not allowed inside transactions, so the
    * transaction writes two plain tables next to the main one. */
  private val CustTable = "cust_live"
  private val TxnTable = "orders_txn"
  private def dir = Catalog.tablePath(ctx.lh, Table)

  // ---- the model -------------------------------------------------------
  private val rows = mutable.LongMap.empty[Order]
  private var current = Digest.Zero
  private var custDigest = Digest.Zero
  private var txnDigest = Digest.Zero
  private var nextKey = 1L
  private var nextCust = 1L
  /** Model digest of every committed version still retained. */
  private val versions = mutable.LongMap.empty[Digest]
  private var oldestRetained = 0L

  private def put(o: Order): Unit = {
    rows.get(o.key).foreach(old => current -= old.digest)
    rows(o.key) = o
    current += o.digest
  }
  private def remove(k: Long): Unit =
    rows.remove(k).foreach(old => current -= old.digest)

  /** Record the table's new latest version as the model's current state. */
  private def acknowledge(): Option[String] =
    Versioned.latestVersion(dir) match {
      case Some(v) => versions(v) = current; None
      case None => Some("no committed version after a commit")
    }

  private def order(r: scala.util.Random, key: Long): Order = Order(key,
    1L + r.nextInt(5000), Statuses(r.nextInt(3)),
    (90000 + r.nextInt(50000000)) / 100.0,
    (694224000L + r.nextInt(2405) * 86400L) * 1000000L, Prios(r.nextInt(5)))

  private def newOrders(r: scala.util.Random, n: Int): Seq[Order] =
    (0 until n).map { _ => val o = order(r, nextKey); nextKey += 1; o }

  private def newCustomers(r: scala.util.Random, n: Int): Seq[Row] =
    (0 until n).map { _ =>
      val k = nextCust; nextCust += 1
      Row(k, f"Customer#$k%09d", (r.nextInt(1100000) - 99900) / 100.0)
    }

  /** Write a batch as raw parquet (user input) and hand back its reader. */
  private def batch(name: String, data: Seq[Row], schema: StructType): DataFrame = {
    ctx.writeRaw(name, spark.createDataFrame(data.asJava, schema).coalesce(1))
    ctx.readRaw(name)
  }

  /** The initial contents of the three tables, drawn from the seed. */
  private def initial(): (Seq[Order], Seq[Row], Seq[Order]) = {
    nextKey = 1L; nextCust = 1L
    val r = new scala.util.Random(ctx.seed)
    (newOrders(r, InitialOrders), newCustomers(r, InitialCustomers), newOrders(r, BatchRows))
  }

  def prepareInputs(): Unit = {
    val (init, cust, txnInit) = initial()
    batch("orders_init", init.map(_.row), OrderSchema)
    batch("cust_init", cust, CustSchema)
    batch("txn_init", txnInit.map(_.row), OrderSchema)
  }

  def setup(): Unit = {
    val lh = ctx.freshLakehouse()
    rows.clear(); versions.clear(); current = Digest.Zero
    val (init, cust, txnInit) = initial()
    init.foreach(put)
    custDigest = cust.map(custDigestOf).foldLeft(Digest.Zero)(_ + _)
    txnDigest = txnInit.map(_.digest).foldLeft(Digest.Zero)(_ + _)
    TableIO.writeTable(spark, lh, Table, ctx.readRaw("orders_init"), sortBy = Seq("o_orderkey"))
    TableIO.enableChangeFeed(spark, lh, Table)
    TableIO.writeTable(spark, lh, CustTable, ctx.readRaw("cust_init"))
    TableIO.writeTable(spark, lh, TxnTable, ctx.readRaw("txn_init"))
    acknowledge()
    oldestRetained = versions.keys.min
  }

  private def same(got: Digest, want: Digest, what: String): Option[String] =
    if (got == want) None else Some(s"$what: digest $got, expected $want")

  private def write(kind: String)(body: => Any)(model: => Unit): Op[Any] =
    Op(kind)(Trace.layer("TableIO.commit")(body)) { _ => model; acknowledge() }

  /** A retained version older than the latest, for time travel. */
  private def pastVersion(r: scala.util.Random): Long = {
    val vs = versions.keys.filter(_ >= oldestRetained).toSeq.sorted.dropRight(1)
    if (vs.isEmpty) versions.keys.max else vs(r.nextInt(vs.size))
  }

  val cycleLength = 16

  def op(i: Int): Op[_] = {
    val r = new scala.util.Random(ctx.seed * 1000003L + i)
    i % cycleLength match {
      case 0 =>
        val data = newOrders(r, BatchRows)
        val df = batch(s"append_$i", data.map(_.row), OrderSchema)
        write("append")(TableIO.appendTable(spark, ctx.lh, Table, df))(data.foreach(put))
      case 1 | 9 | 14 =>
        val k = 1L + (r.nextDouble() * nextKey).toLong
        Op("point_eq") {
          Consume.digest(Trace.layer("TableIO.read") {
            TableIO.prunedScanEq(spark, ctx.lh, Table, "o_orderkey", k)
          })
        } { got => same(got, rows.get(k).fold(Digest.Zero)(_.digest), s"key $k") }
      case 2 =>
        val seen = (0 until BatchRows * 2 / 3).map(_ => 1L + r.nextInt(nextKey.toInt - 1))
          .distinct.map { k => order(r, k) }
        val data = seen ++ newOrders(r, BatchRows / 3)
        val df = batch(s"merge_$i", data.map(_.row), OrderSchema)
        write("merge") {
          TableIO.mergeInto(spark, ctx.lh, Table, df, Seq("o_orderkey"), Seq(
            MatchedUpdate(Map("o_totalprice" -> "s.o_totalprice",
              "o_orderstatus" -> "s.o_orderstatus")),
            NotMatchedInsert()))
        } {
          data.foreach { s =>
            put(rows.get(s.key).fold(s)(t => t.copy(price = s.price, status = s.status)))
          }
        }
      case 3 =>
        Op("full_scan") {
          Consume.digest(Trace.layer("TableIO.read")(TableIO.selectTable(spark, ctx.lh, Table)))
        } { got => same(got, current, "full scan") }
      case 4 =>
        val lo = 1L + r.nextInt(nextKey.toInt - 1)
        val hi = lo + 999
        write("update") {
          TableIO.updateTable(spark, ctx.lh, Table, s"o_orderkey BETWEEN $lo AND $hi",
            Map("o_totalprice" -> "o_totalprice + 1.5"))
        } {
          (lo to hi).foreach(k => rows.get(k).foreach(o => put(o.copy(price = o.price + 1.5))))
        }
      case 5 | 15 =>
        val v = pastVersion(r)
        val ts = Versioned.commitTimeMs(dir, v).getOrElse(0L)
        Op("as_of") {
          Consume.digest(Trace.layer("TableIO.read") {
            TableIO.selectTableAsOf(spark, ctx.lh, Table, ts)
          })
        } { got =>
          val seen = Versioned.committedVersions(dir)
            .filter(u => Versioned.commitTimeMs(dir, u).exists(_ <= ts)).max
          versions.get(seen).fold[Option[String]](Some(s"no model of version $seen"))(
            same(got, _, s"as of version $seen"))
        }
      case 6 =>
        val lo = 1L + r.nextInt(nextKey.toInt - 1)
        val hi = lo + 4999
        val m = r.nextInt(7)
        write("delete") {
          TableIO.deleteFromTable(spark, ctx.lh, Table,
            s"o_orderkey BETWEEN $lo AND $hi AND o_orderkey % 7 = $m")
        } { (lo to hi).filter(_ % 7 == m).foreach(remove) }
      case 7 =>
        val data = newOrders(r, BatchRows / 2)
        val cust = newCustomers(r, BatchRows / 5)
        val od = batch(s"txn_orders_$i", data.map(_.row), OrderSchema)
        val cd = batch(s"txn_cust_$i", cust, CustSchema)
        Op("txn") {
          Trace.layer("Transactions") {
            val h = Txn.begin(ctx.lh)
            Txn.writeAll(h, spark, ctx.lh, Seq(TxnTable -> od, CustTable -> cd))
            Txn.commit(h)
          }
        } { _ =>
          txnDigest += data.map(_.digest).foldLeft(Digest.Zero)(_ + _)
          custDigest += cust.map(custDigestOf).foldLeft(Digest.Zero)(_ + _)
          None
        }
      case 8 =>
        // the oldest retained version: the feed then spans every kind of
        // change the cycle made, and its cost does not hang on a random pick
        val since = versions.keys.filter(_ >= oldestRetained).min
        Op("change_feed") {
          val feed = Trace.layer("TableIO.read")(TableIO.readChangeFeed(spark, ctx.lh, Table, since))
          Consume.digestByGroup(feed, "_change_type", OrderCols)
        } { byType =>
          val latest = Versioned.latestVersion(dir)
          def d(t: String) = byType.getOrElse(t, Digest.Zero)
          val net = versions(since) - d("delete") - d("update_preimage") +
            d("insert") + d("update_postimage")
          val unknown = byType.keySet -- Set("delete", "update_preimage", "insert", "update_postimage")
          if (unknown.nonEmpty) Some(s"change types $unknown")
          else same(net, versions(latest.get), s"change feed since $since")
        }
      case 10 =>
        write("compact")(TableIO.compactTable(spark, ctx.lh, Table))(())
      case 11 =>
        Op("vacuum")(Trace.layer("Versioned")(Versioned.vacuum(dir, retainAgeMs = 0L))) { _ =>
          val left = Versioned.committedVersions(dir)
          oldestRetained = left.min
          versions.keys.filter(_ < oldestRetained).foreach(versions.remove)
          if (left.max == versions.keys.max) None
          else Some(s"vacuum left versions $left")
        }
      case 12 =>
        val lo = 1L + r.nextInt(nextKey.toInt - 1)
        val hi = lo + 9999
        Op("sql_report") {
          val tables = Trace.layer("Catalog")(Catalog.getTables(ctx.lh))
          val orders = Trace.layer("TableIO.read") {
            TableIO.readTable(spark, ctx.lh, Table, condition = s"o_orderkey BETWEEN $lo AND $hi")
          }
          val cust = Trace.layer("TableIO.read")(TableIO.readTable(spark, ctx.lh, CustTable))
          val report = Trace.layer("QueryApi") {
            QueryApi.sqlQueryDataFrame(spark, Seq(orders, cust), Seq("orders", "cust"),
              """SELECT o_orderstatus, count(*) AS n,
                |  sum(cast(o_totalprice AS decimal(18,2))) AS revenue
                |FROM orders JOIN cust ON o_custkey = c_custkey
                |GROUP BY o_orderstatus""".stripMargin)
          }
          (tables, Consume.collect(report))
        } { case (tables, rows) =>
          val want = rowsIn(lo, hi).filter(_.cust < nextCust).groupBy(_.status).map {
            case (st, os) => st -> (os.size.toLong,
              os.map(o => BigDecimal(o.price).setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum)
          }
          val got = rows.map(x => x.getString(0) -> (x.getLong(1), BigDecimal(x.getDecimal(2))))
            .toMap
          if (tables != Seq(CustTable, Table, TxnTable)) Some(s"catalog lists $tables")
          else if (got != want) Some(s"report $got, expected $want")
          else None
        }
      case 13 =>
        val lo = 1L + r.nextInt(nextKey.toInt - 1)
        val hi = lo + 2999
        Op("key_range") {
          Consume.digest(Trace.layer("TableIO.read") {
            TableIO.prunedScanRanges(spark, ctx.lh, Table, Seq(("o_orderkey", Some(lo), Some(hi))))
          })
        } { got => same(got, rowsIn(lo, hi).map(_.digest).foldLeft(Digest.Zero)(_ + _),
          s"keys $lo..$hi") }
    }
  }

  private def rowsIn(lo: Long, hi: Long): Seq[Order] = (lo to hi).flatMap(rows.get)

  /** Every retained version reads back as the model saw it when it was
    * acknowledged, and both transaction tables hold every committed batch. */
  override def finalCheck(): Option[String] = {
    val bad = versions.toSeq.sortBy(_._1).flatMap { case (v, want) =>
      same(Digest.of(TableIO.selectTableVersion(spark, ctx.lh, Table, v)), want, s"version $v")
    }
    (bad ++ same(Digest.of(TableIO.selectTable(spark, ctx.lh, CustTable)), custDigest,
      CustTable) ++ same(Digest.of(TableIO.selectTable(spark, ctx.lh, TxnTable)), txnDigest,
      TxnTable)).headOption
  }
}

object CommitChurn {
  val InitialOrders = 30000
  val InitialCustomers = 2000
  val BatchRows = 1500
  val Statuses = Seq("F", "O", "P")
  val Prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  val OrderSchema = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType), StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType), StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))
  val OrderCols: Seq[String] = OrderSchema.fieldNames.toSeq
  val CustSchema = StructType(Seq(StructField("c_custkey", LongType, nullable = false),
    StructField("c_name", StringType), StructField("c_acctbal", DoubleType)))

  final case class Order(key: Long, cust: Long, status: String, price: Double,
      dateMicros: Long, prio: String) {
    def row: Row = Row(key, cust, status, price, new Timestamp(dateMicros / 1000), prio)
    def digest: Digest = Digest(1, Digest.rowHashOf(Seq(key -> LongType, cust -> LongType,
      status -> StringType, price -> DoubleType, dateMicros -> TimestampType,
      prio -> StringType)))
  }

  def custDigestOf(r: Row): Digest = Digest(1, Digest.rowHashOf(Seq(
    r.getLong(0) -> LongType, r.getString(1) -> StringType, r.getDouble(2) -> DoubleType)))
}
