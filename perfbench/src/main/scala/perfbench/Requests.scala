package perfbench

import java.util.SplittableRandom

/** One serving request. `target` is the customer, order key or nation
  * it addresses; `seq` numbers a writer's puts (-1 for reads). */
final case class Req(kind: String, text: String, target: Long, seq: Long = -1) {
  def isPut: Boolean = kind.startsWith("put_")
}

/** Zipf(s) over ranks 0..n-1 by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
  def sample(r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** The serving request streams. Each client's stream is a pure function
  * of (seed, client), so one seed always replays the same requests. */
object Requests {
  val ZipfS = 1.0

  /** Spread Zipf ranks over the id space so the hot keys are not just
    * the smallest ids. A bijection on 0..n-1 when n is not a multiple
    * of the prime. */
  def scatter(rank: Int, n: Int): Long = {
    require(n % 7919 != 0)
    (rank * 7919L + 13) % n
  }

  /** Reads, in blocks of ten with a seeded order: four customer gets,
    * two order gets, three two-hop follows from an order and one
    * filtered scan with take (40/20/30/10%), so even a short window
    * holds the specified mix. */
  def reader(seed: Long, client: Int, sc: Data.Scale): Iterator[Req] = {
    val r = new SplittableRandom(seed * 1000003L + client)
    val custZ = new Zipf(sc.customers, ZipfS)
    val ordZ = new Zipf(sc.orders, ZipfS)
    val natZ = new Zipf(Data.Nations, ZipfS)
    val block = Array.fill(4)(0) ++ Array.fill(2)(1) ++ Array.fill(3)(2) :+ 3
    Iterator.continually {
      for (i <- block.indices.reverse) { // Fisher-Yates
        val j = r.nextInt(i + 1)
        val t = block(i); block(i) = block(j); block(j) = t
      }
      block.toSeq.map {
        case 0 =>
          val c = scatter(custZ.sample(r), sc.customers)
          Req("get_customer", s"""get "customer/$c"""", c)
        case 1 =>
          val o = Data.orderKey(scatter(ordZ.sample(r), sc.orders))
          Req("get_order", s"""get "orders/$o"""", o)
        case 2 =>
          val o = Data.orderKey(scatter(ordZ.sample(r), sc.orders))
          Req("follow2", s"""get "orders/$o" |> follow * 0..2""", o)
        case _ =>
          val n = natZ.sample(r).toLong
          Req("scan_take",
            s"""get "*" |> filter "nation" == ^"nation/$n" |> take 10""", n)
      }
    }.flatten
  }

  /** Writes, alternating: a new review node with an edge to an existing
    * customer, then a new version of a customer's `acctbal`. Targets
    * follow the readers' Zipf law, so reads see recent writes. */
  def writer(seed: Long, sc: Data.Scale): Iterator[Req] = {
    val r = new SplittableRandom(seed * 1000003L - 1)
    val custZ = new Zipf(sc.customers, ZipfS)
    Iterator.from(0).map { i =>
      val c = scatter(custZ.sample(r), sc.customers)
      if (i % 2 == 0)
        Req("put_node",
          s"""put "review/$i" { "stars": ${i % 5 + 1}, "about": ^"customer/$c" }""",
          c, i)
      else
        Req("put_version", s"""put "customer/$c" { "acctbal": ${versionValue(i)} }""",
          c, i)
    }
  }

  /** The acctbal a version put writes; unique per write and exact in the
    * float the put parser stores it as. */
  def versionValue(seq: Long): String = s"${seq + 100000}.5"
}
