package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private val texts = IndexedSeq("spark join on a hash table",
    "data stream window merge", "vente cloud sort scan fast")

  test("the same seed gives identical bytes") {
    assert(Gen.lake(7L, 3000, texts, "lake").lines ==
      Gen.lake(7L, 3000, texts, "lake").lines)
  }

  test("another seed gives other bytes") {
    assert(Gen.lake(7L, 3000, texts, "lake").lines !=
      Gen.lake(8L, 3000, texts, "lake").lines)
  }

  test("the lake holds every case the cleaning stages exist for") {
    val lake = Gen.lake(7L, 3000, texts, "lake")
    val t = lake.truth
    assert(t.raw == lake.lines.size)
    assert(t.quarantined > 0 && t.quarantined < t.raw / 10)
    // duplicates and blank required fields: fewer clean offers than rows
    assert(t.clean < t.raw - t.quarantined)
    assert(t.facts > t.clean / 2 && t.facts < t.clean)
    assert(t.thirdFormat > 0 && t.thirdFormat <= t.dateless)
    assert(t.bySourceMonth.values.sum == t.facts)
    assert(t.bySourceMonth.keys.map(_._1).toSet ==
      Set("linkedin", "indeed", "rekrute", "emploi.ma", "glassdoor"))
    assert(lake.lines.exists(_.contains("\"hard_skills\"")))
    assert(lake.lines.exists(l => "\\d{2}/\\d{2}/\\d{4}".r.findFirstIn(l).nonEmpty))
  }

  test("only the two formats Pipeline.clean parses count as dated") {
    assert(Gen.parse("2024-02-29").nonEmpty)
    assert(Gen.parse("29/02/2024").nonEmpty)
    assert(Gen.parse("29 Feb-10:30").isEmpty)
    assert(Gen.parse("2023-02-29").isEmpty)
    assert(Gen.parse("N/A").isEmpty)
  }
}
