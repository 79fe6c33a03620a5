package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The generators are the benchmark's inputs: the same seed must give
  * byte-identical inputs (compared by content hash) and another seed
  * different ones. Small sizes; no Spark session needed. */
class GenSpec extends AnyFunSuite {

  private def etl(seed: Long): String = {
    val g = new EtlGen(seed, 300, 200)
    Gen.contentHash((g.base.items ++ g.next().items ++ g.next().items).iterator)
  }

  private def serve(seed: Long): String = {
    val g = new ServeGen(seed, 300, 1000, 500)
    Gen.contentHash((g.listingRows ++ g.tagRows ++ g.queueRows ++
      g.reportRows ++ g.requests(4)).iterator)
  }

  private def index(seed: Long): String = {
    val g = new IndexGen(seed, 300, 50)
    Gen.contentHash((g.base ++ g.next().docs ++ g.next().docs ++
      g.probe(30) ++ g.takedown()).iterator)
  }

  for ((name, inputs) <- Seq[(String, Long => String)](
      "etl_monthly listings" -> etl, "serve_dashboard" -> serve, "etl_monthly dedup index" -> index)) {
    test(s"$name: the same seed gives byte-identical inputs") {
      assert(inputs(1L) == inputs(1L))
    }
    test(s"$name: another seed gives other inputs") {
      assert(inputs(1L) != inputs(2L))
    }
  }

  test("the planted etl truth matches the planted shares") {
    val g = new EtlGen(5, 300, 200)
    g.base
    val b = g.next()
    assert(b.items.size == 200)
    assert(b.newUrls.size == 60 && b.matchedUrls.size == 120 && b.delistedUrls.size == 20)
    assert(b.tagCounts("not_available") == 20)
    assert(g.props.size == 360)
  }

  test("BENCHMARK.json names exactly the metrics the benchmark prints") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.parse
    val src = scala.io.Source.fromFile("../BENCHMARK.json")
    val j = try parse(src.mkString) finally src.close()
    def names(k: String) = (j \ k).children.map(m => (m \ "name", m \ "unit") match {
      case (JString(n), JString(u)) => n -> u
      case other => fail(s"bad $k entry $other")
    })
    assert(names("end_to_end") == Main.EndToEnd)
    assert(names("per_layer") == Main.PerLayer)
  }
}
