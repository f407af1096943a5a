package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Expected serving answers, computed at set-up from the relational
  * tables the store is built from, plus the writes the run has made.
  *
  * An answer is a set of attribute rows rendered `id|key|value`. A read
  * must return every version acknowledged before it started
  * (read-your-writes) and may return versions whose put was issued
  * before it ended; nothing else. */
final class Expect(customers: Array[Expect.Customer],
                   orders: Array[(String, Long)], nations: Array[(String, Int)]) {
  import Expect._

  private val byNationIdOrder: Array[Seq[Long]] = Array.tabulate(nations.length) { n =>
    customers.indices.filter(c => customers(c).nation == n)
      .map(_.toLong).sortBy(c => s"customer/$c")
  }

  private val versions = new ConcurrentHashMap[Long, ConcurrentLinkedQueue[Version]]()

  /** Record a put before it is sent; call `ack` on the result once the
    * server has acknowledged it. Only version puts add rows a read sees. */
  def issue(req: Req, nowNs: Long): Option[Version] =
    if (req.kind != "put_version") None
    else {
      val v = new Version(s"customer/${req.target}|acctbal|n:" +
        Requests.versionValue(req.seq).toDouble, nowNs)
      versions.computeIfAbsent(req.target, _ => new ConcurrentLinkedQueue()).add(v)
      Some(v)
    }

  private def customerRows(c: Long, t0: Long, t1: Long): (Set[String], Set[String]) = {
    val cu = customers(c.toInt)
    val base = Set(s"customer/$c|name|s:${cu.name}",
      s"customer/$c|acctbal|n:${cu.acctbal}",
      s"customer/$c|nation|^nation/${cu.nation}")
    val vs = Option(versions.get(c)).map(_.asScala.toSeq).getOrElse(Nil)
    (base ++ vs.filter(_.ackNs < t0).map(_.row),
      base ++ vs.filter(_.issueNs < t1).map(_.row))
  }

  private def orderRows(o: Long): Set[String] = {
    val (price, c) = orders((o / 4).toInt)
    Set(s"orders/$o|totalprice|n:$price", s"orders/$o|customer|^customer/$c")
  }

  private def nationRows(n: Int): Set[String] =
    Set(s"nation/$n|name|s:${nations(n)._1}",
      s"nation/$n|region|^region/${nations(n)._2}")

  /** (required, allowed) rows for a read that ran from t0 to t1. */
  def rows(req: Req, t0: Long, t1: Long): (Set[String], Set[String]) = {
    def fixed(s: Set[String]) = (s, s)
    def plus(a: (Set[String], Set[String]), b: (Set[String], Set[String])) =
      (a._1 ++ b._1, a._2 ++ b._2)
    req.kind match {
      case "get_customer" => customerRows(req.target, t0, t1)
      case "get_order" => fixed(orderRows(req.target))
      case "follow2" =>
        val c = orders((req.target / 4).toInt)._2
        plus(plus(fixed(orderRows(req.target)), customerRows(c, t0, t1)),
          fixed(nationRows(customers(c.toInt).nation)))
      case "scan_take" =>
        byNationIdOrder(req.target.toInt).take(10)
          .map(customerRows(_, t0, t1)).foldLeft(fixed(Set.empty))(plus)
    }
  }

  /** None when `got` is a correct answer to `req`, else what is wrong. */
  def check(req: Req, got: Seq[String], t0: Long, t1: Long): Option[String] = {
    val (required, allowed) = rows(req, t0, t1)
    val set = got.toSet
    if (set.size != got.size) Some(s"duplicate rows for ${req.text}")
    else if (!required.subsetOf(set))
      Some(s"missing ${(required -- set).take(3).mkString(", ")} for ${req.text}")
    else if (!set.subsetOf(allowed))
      Some(s"unexpected ${(set -- allowed).take(3).mkString(", ")} for ${req.text}")
    else None
  }
}

object Expect {
  final case class Customer(name: String, acctbal: Double, nation: Int)

  final class Version(val row: String, val issueNs: Long) {
    @volatile var ackNs: Long = Long.MaxValue
  }

  /** Read the generated tables back into the driver (a few MB). */
  def load(spark: SparkSession, dir: String, sc: Data.Scale): Expect = {
    val cust = new Array[Customer](sc.customers)
    spark.read.parquet(s"$dir/customer.parquet")
      .select("c_custkey", "c_name", "c_acctbal", "c_nationkey").collect()
      .foreach(r => cust(r.getLong(0).toInt) =
        Customer(r.getString(1), r.getDouble(2), r.getInt(3)))
    val ord = new Array[(String, Long)](sc.orders)
    spark.read.parquet(s"$dir/orders.parquet")
      .select("o_orderkey", "o_totalprice", "o_custkey").collect()
      .foreach(r => ord((r.getLong(0) / 4).toInt) =
        (r.getDouble(1).toString, r.getLong(2)))
    val nat = new Array[(String, Int)](Data.Nations)
    spark.read.parquet(s"$dir/nation.parquet")
      .select("n_nationkey", "n_name", "n_regionkey").collect()
      .foreach(r => nat(r.getInt(0)) = (r.getString(1), r.getInt(2)))
    new Expect(cust, ord, nat)
  }

  /** Render one attribute row's (id, key, value fields) as `id|key|value`. */
  def render(id: String, key: String, iri: String, str: String,
             num: java.lang.Double, i64: java.lang.Long): String = {
    val v = if (iri != null) s"^$iri" else if (str != null) s"s:$str"
      else if (num != null) s"n:${num.doubleValue}"
      else if (i64 != null) s"i:${i64.longValue}" else "null"
    s"$id|$key|$v"
  }
}
