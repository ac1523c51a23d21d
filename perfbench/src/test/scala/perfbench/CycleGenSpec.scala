package perfbench

import org.scalatest.funsuite.AnyFunSuite

class CycleGenSpec extends AnyFunSuite {
  private def pages(seed: Long, batches: Int): Seq[String] = {
    val g = new CycleGen(seed)
    (g.warmBatch() +: (1 to batches).map(g.batch)).flatMap(CycleGen.pages).map(_.map(_.json).mkString("\n"))
  }

  test("the same seed gives byte-identical pages") {
    assert(pages(7, 3) == pages(7, 3))
  }

  test("another seed gives other pages") {
    assert(pages(7, 1) != pages(8, 1))
  }

  test("the warm-up batch fills every key once") {
    val rows = new CycleGen(1).warmBatch()
    assert(rows.size == CycleGen.Keys)
    val keys = rows.flatMap(r => CycleModel.normalize(r, 0)).map(_.key).toSet
    assert(keys.size == CycleGen.Keys)
  }

  test("a regular batch has the stated size, page count and shares") {
    val g = new CycleGen(3)
    g.warmBatch()
    val rows = g.batch(1)
    assert(rows.size == CycleGen.RowsPerBatch)
    assert(CycleGen.pages(rows).size == CycleGen.PagesPerBatch)
    val kept = rows.count(r => CycleModel.normalize(r, 0).isDefined).toDouble / rows.size
    val dropped = CycleGen.NullValue + CycleGen.OffAllowlist + CycleGen.BadTimestamp
    assert(math.abs(kept - (1 - dropped)) < 0.02, s"kept share $kept")
  }

  test("re-deliveries are covered by the cursor and dropped by the model") {
    val g = new CycleGen(5)
    val m = new CycleModel
    def feed(rows: Seq[RawRow]) = m.batch(rows.zipWithIndex.flatMap { case (r, i) => CycleModel.normalize(r, i) })
    feed(g.warmBatch())
    val rows = g.batch(1)
    val emitted = feed(rows).size.toDouble / rows.size
    val expected = 1 - CycleGen.Late - CycleGen.Duplicate - CycleGen.NullValue - CycleGen.OffAllowlist - CycleGen.BadTimestamp
    assert(math.abs(emitted - expected) < 0.03, s"emitted share $emitted")
  }
}
