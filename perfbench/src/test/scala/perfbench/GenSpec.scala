package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The input generator is a pure function of the seed: the same seed gives
  * identical inputs, another seed gives different ones. */
class GenSpec extends AnyFunSuite {

  test("nightly_increment: a night's file is a pure function of the seed") {
    val a = Gen.night(3, 5).map(_.csv)
    assert(a == Gen.night(3, 5).map(_.csv))
    assert(a != Gen.night(4, 5).map(_.csv))
  }

  test("nightly_increment: late rows re-deliver distinct earlier events") {
    assert(Gen.night(3, 0).size == Gen.EventsPerNight)
    val k = 7
    val rows = Gen.night(3, k)
    val late = rows.drop(Gen.EventsPerNight)
    assert(late.nonEmpty)
    assert(late.map(_.eventId).distinct.size == late.size)
    val firstOfNight = k.toLong * Gen.EventsPerNight
    assert(late.forall(e => e.eventId < firstOfNight &&
      e.eventId >= firstOfNight - 3 * Gen.EventsPerNight))
    late.foreach { e =>
      val n = (e.eventId / Gen.EventsPerNight).toInt
      val orig = Gen.freshEvent(n, (e.eventId % Gen.EventsPerNight).toInt)
      assert(e.copy(cents = orig.cents) == orig && e.cents != orig.cents)
    }
  }

  test("nightly_increment: later cycles replay the feed shifted forward") {
    val day = 86400L * 1000000L
    val a = Gen.freshEvent(2, 10)
    val b = Gen.freshEvent(2 + Gen.CycleNights, 10)
    assert(b.tsUs - a.tsUs == Gen.CycleNights * day)
    assert(b.eventId != a.eventId && b.cents == a.cents)
  }

  test("corpus_store: the plan and the texts are pure functions of the seed") {
    val a = Gen.corpusPlan(5, 8)
    val b = Gen.corpusPlan(5, 8)
    assert(a.cycles == b.cycles)
    assert(a.cycles != Gen.corpusPlan(6, 8).cycles)
    val ids = a.historyIds ++ a.cycles.flatMap(_.ids)
    assert(ids.map(a.text) == ids.map(b.text))
    assert(Gen.embedding(1234).toSeq == Gen.embedding(1234).toSeq)
  }

  test("corpus_store: batches ascend, planted copies carry their source text") {
    val p = Gen.corpusPlan(5, 16)
    val ids = p.cycles.flatMap(_.ids)
    assert(ids == ids.sorted && ids.distinct == ids)
    assert(ids.head >= Gen.HistoryIds && ids.forall(Gen.isCorpus))
    val planted = (p.historyIds ++ ids).flatMap(id =>
      Gen.plantedSource(5, id).map(id -> _))
    assert(planted.nonEmpty)
    planted.foreach { case (id, src) =>
      assert(src < id && Gen.isCorpus(src) && p.text(id) == p.text(src))
    }
  }

  test("corpus_store: batch and takedown sizes follow the p08/p11 shape") {
    val p = Gen.corpusPlan(5, 16)
    var live = p.historyIds.size
    p.cycles.foreach { c =>
      // Four of every five ids are corpus documents.
      val meanDocs = Gen.MeanBatchIds * 4 / 5
      assert(math.abs(c.ids.size - meanDocs) <= Gen.BatchJitterIds)
      live += c.ids.size
      assert(c.victims.size == math.round(live * Gen.TakedownShare))
      live -= c.family.size
    }
  }

  test("corpus_store: each victim is taken down once, with its family") {
    val p = Gen.corpusPlan(9, 16)
    val victims = p.cycles.flatMap(_.victims)
    assert(victims.distinct == victims)
    val gone = p.removed(16)
    assert(victims.forall(gone))
    val first = p.cycles.head
    val texts = first.victims.map(p.text).toSet
    assert((p.historyIds ++ first.ids).filter(id => texts(p.text(id)))
      .toSet == first.family)
    // Some takedown removes a planted copy along with its source.
    assert(gone.size > victims.size)
  }
}
