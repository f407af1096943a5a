package perfbench

import org.scalatest.funsuite.AnyFunSuite

class PerfbenchSpec extends AnyFunSuite {

  test("percentile is nearest-rank") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 5.0)
    assert(Stats.percentile(xs, 90) == 9.0)
    assert(Stats.percentile(xs, 95) == 10.0)
    assert(Stats.percentile(xs, 100) == 10.0)
    assert(Stats.percentile(xs, 1) == 1.0)
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 50) == 2.0)
    assert(Stats.percentile(Seq(7.0), 99) == 7.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.0)
    assertThrows[IllegalArgumentException](Stats.percentile(Nil, 50))
    assertThrows[IllegalArgumentException](Stats.percentile(xs, 0))
  }

  test("metric names and units keep to the result charset") {
    assert(Report.validName("query_p50_ms"))
    assert(Report.validName("spark.jobs_per_op"))
    assert(Report.validName("9-lives.x"))
    assert(!Report.validName("_leading"))
    assert(!Report.validName("has space"))
    assert(!Report.validName("a/b"))
    assert(!Report.validName("x" * 65))
    assert(Report.validUnit("1/s") && Report.validUnit("%") && Report.validUnit("MB"))
    assert(!Report.validUnit("m s") && !Report.validUnit("") && !Report.validUnit("u" * 17))
  }

  test("every declared metric has a valid name and unit, used once") {
    val spec = new java.io.File("../BENCHMARK.json")
    for (section <- Seq("end_to_end", "per_layer")) {
      val ms = Main.declaredMetrics(spec, section)
      assert(ms.nonEmpty)
      assert(ms.map(_._1).distinct.size == ms.size)
      ms.foreach { case (n, u) => assert(Report.validName(n), n); assert(Report.validUnit(u), u) }
    }
  }

  test("the result line rejects missing, extra and non-finite metrics") {
    val declared = Seq("a_ms" -> "ms", "b" -> "count")
    val ok = Seq(Metric("b", 2, "count"), Metric("a_ms", 1.5, "ms"))
    assert(Report.check(declared, ok).map(_.name) == Seq("a_ms", "b"))
    assertThrows[IllegalArgumentException](Report.check(declared, ok.take(1)))
    assertThrows[IllegalArgumentException](
      Report.check(declared, ok :+ Metric("c", 1, "count")))
    assertThrows[IllegalArgumentException](
      Report.check(declared, Seq(Metric("a_ms", Double.NaN, "ms"), ok.head)))
    // an unused module's share or count reads 0; a missing time is an error
    val layers = Seq("a_ms" -> "ms", "b" -> "count", "c_pct" -> "%")
    assert(Report.check(layers, Report.unusedAsZero(layers, ok))
      .map(m => m.name -> m.value) == Seq("a_ms" -> 1.5, "b" -> 2.0, "c_pct" -> 0.0))
    assertThrows[IllegalArgumentException](
      Report.check(layers, Report.unusedAsZero(layers, ok.take(1))))
    val line = Result(3, 0, ok, Nil).line
    assert(line.startsWith("""{"correct":true,"attempted":3,"failed":0,"metrics":{"""))
    assert(line.contains(""""a_ms":{"value":1.5,"unit":"ms"}"""))
  }

  test("the same seed gives a byte-identical request stream") {
    def stream(seed: Long) =
      ((0 until 4).flatMap(c => Requests.reader(seed, c, Data.serve).take(500)) ++
        Requests.writer(seed, Data.serve).take(500)).map(r => r.kind + " " + r.text)
        .mkString("\n")
    assert(stream(42) == stream(42))
    assert(stream(42) != stream(43))
    assert(Analytics.order(42, 0) == Analytics.order(42, 0))
    assert(Analytics.order(42, 0).sorted == Analytics.queries.map(_._2).sorted)
  }

  test("the read mix and the Zipf skew are as specified") {
    val reqs = Requests.reader(7, 0, Data.serve).take(20000).toSeq
    val share = reqs.groupBy(_.kind).map { case (k, v) => k -> v.size / 200.0 }
    assert(math.abs(share("get_customer") - 40) < 2)
    assert(math.abs(share("get_order") - 20) < 2)
    assert(math.abs(share("follow2") - 30) < 2)
    assert(math.abs(share("scan_take") - 10) < 2)
    val hot = reqs.filter(_.kind == "get_customer").groupBy(_.target).values.map(_.size).max
    assert(hot > reqs.count(_.kind == "get_customer") / 20, "Zipf head too flat")
    assert(reqs.filter(_.target >= 0).forall(r =>
      r.kind == "scan_take" || r.kind == "get_customer" || r.target % 4 == 0))
  }

  test("a failing, wrong or timed-out operation is counted as failed") {
    val expect = new Expect(Array(Expect.Customer("C0", 1.5, 0)),
      Array(("9.5", 0L)), Array.fill(Data.Nations)(("N", 0)))
    val get = Req("get_order", """get "orders/0"""", 0)
    val right = Seq("orders/0|totalprice|n:9.5", "orders/0|customer|^customer/0")
    def client(answer: => Seq[String]) = new Client {
      def get(req: Req): Seq[String] = answer
      def put(req: Req): Unit = throw new RuntimeException("injected put failure")
    }
    val good = Serve.once(client(right), get, expect, 0)
    val thrown = Serve.once(client(throw new RuntimeException("injected")), get, expect, 0)
    val wrong = Serve.once(client(right.take(1)), get, expect, 0)
    val extra = Serve.once(client(right :+ "orders/0|x|n:1.0"), get, expect, 0)
    val put = Serve.once(client(right),
      Req("put_node", """put "review/0" { "about": ^"customer/0" }""", 0, 0), expect, 0)
    val slow = Serve.once(client { Thread.sleep(50); right }, get, expect, 0,
      java.time.Duration.ofMillis(10))
    assert(good.ok)
    Seq(thrown, wrong, extra, put, slow).foreach(s => assert(!s.ok, s))
    assert(slow.error.exists(_.contains("timed out")))
    val (attempted, failed, problems) = Main.tally(Seq(good, thrown, wrong, extra, put, slow))
    assert(attempted == 6 && failed == 5)
    assert(problems.exists(_.contains("injected")) && problems.exists(_.contains("missing")))
  }

  test("with a writer, a window holds whole cut cycles of puts") {
    val expect = new Expect(Array(Expect.Customer("C0", 1.5, 0)),
      Array(("9.5", 0L)), Array.fill(Data.Nations)(("N", 0)))
    val right = Seq("orders/0|totalprice|n:9.5", "orders/0|customer|^customer/0")
    val slow = new Client {
      def get(req: Req): Seq[String] = { Thread.sleep(2); right }
      def put(req: Req): Unit = Thread.sleep(3)
    }
    val reads = Iterator.continually(Req("get_order", """get "orders/0"""", 0))
    val puts = Iterator.from(0).map(i => Req("put_node", "", 0, i))
    val mixed = Serve.drive(Seq(slow -> reads, slow -> puts), expect, 0.05)
    assert(mixed.forall(_.ok))
    assert(mixed.count(_.isPut) % Serve.PutsPerCut == 0 && mixed.count(_.isPut) > 0)
    val readOnly = Serve.drive(Seq(slow -> reads, slow -> reads), expect, 0.05)
    assert(readOnly.nonEmpty && readOnly.map(_.endNs).max - readOnly.map(_.startNs).min < 1e9)
  }

  test("read-your-writes: acknowledged versions are required, in-flight ones allowed") {
    val expect = new Expect(Array(Expect.Customer("C0", 1.5, 3)),
      Array(("9.5", 0L)), Array.fill(Data.Nations)(("N", 0)))
    val base = Seq("customer/0|name|s:C0", "customer/0|acctbal|n:1.5",
      "customer/0|nation|^nation/3")
    val get = Req("get_customer", """get "customer/0"""", 0)
    val v = expect.issue(Req("put_version", "", 0, 7), 100L).get
    // issued but not acknowledged: with or without the version is fine
    assert(expect.check(get, base, 200L, 300L).isEmpty)
    assert(expect.check(get, base :+ v.row, 200L, 300L).isEmpty)
    // a read that ended before the put was issued must not see it
    assert(expect.check(get, base :+ v.row, 10L, 50L).nonEmpty)
    v.ackNs = 150L
    // acknowledged before the read started: it must be there
    assert(expect.check(get, base, 200L, 300L).nonEmpty)
    assert(expect.check(get, base :+ v.row, 200L, 300L).isEmpty)
  }

  test("span self time subtracts the time children cover, once") {
    val spans = Seq(
      Span(1, 0, 1, "request", 0, 100),
      Span(2, 1, 1, "a", 10, 30),
      Span(3, 1, 1, "b", 20, 50), // overlaps a: 10..50 is covered once
      Span(4, 1, 1, "c", 90, 120), // only 90..100 lies inside the parent
      Span(5, 3, 1, "d", 25, 35))
    val self = Trace.selfNs(spans)
    assert(self(1) == 100 - 40 - 10)
    assert(self(2) == 20)
    assert(self(3) == 30 - 10)
    assert(self(4) == 30)
    assert(self(5) == 10)
    assert(Trace.selfByName(spans)("request") == 50)
  }

  test("the tracer nests spans per thread and shares the request's trace id") {
    val t = new Tracer(true)
    t.span("request") { t.span("a")(()); t.span("b") { t.span("c")(()) } }
    t.span("request")(())
    val s = t.all.map(x => x.name -> x).toMap
    val roots = t.all.filter(_.name == "request")
    assert(roots.size == 2 && roots.forall(_.parent == 0))
    assert(s("a").parent == s("b").parent)
    assert(s("c").parent == s("b").id)
    assert(Set(s("a").trace, s("b").trace, s("c").trace).size == 1)
    assert(roots.map(_.trace).distinct.size == 2)
    val off = new Tracer(false)
    assert(off.span("x")(42) == 42 && off.all.isEmpty)
  }
}
