package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Deterministic input generators. Every function here is pure: its result
  * depends only on its arguments, so one seed always gives the same inputs.
  * The engine never sees a seed, only the files written from these. */
object Gen {

  /** splitmix64 finalizer over two words: the benchmark's only hash. */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b + 0x632BE59BD9B4E019L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def below(h: Long, n: Int): Int = java.lang.Math.floorMod(h, n.toLong).toInt
  def unit(h: Long): Double = (h >>> 11) * (1.0 / (1L << 53))

  // ---- nightly_increment: one events CSV per night ---------------------

  final case class Event(eventId: Long, tsUs: Long, userId: Long,
      eventType: String, cents: Long, props: String) {
    def csv: String = {
      val t = java.time.LocalDateTime.ofEpochSecond(
        Math.floorDiv(tsUs, 1000000L),
        (Math.floorMod(tsUs, 1000000L) * 1000).toInt,
        java.time.ZoneOffset.UTC)
      f"$eventId,${t.format(TsFmt)},$userId,$eventType," +
        f"${cents / 100}.${cents % 100}%02d,$props"
    }
  }
  private val TsFmt =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** The sf0.1 events table spans 30 days with 100 000 events. */
  val EventsPerNight = 3334
  val CycleNights = 30
  val EventTypes: IndexedSeq[String] =
    IndexedSeq("view", "click", "purchase", "signup", "error")
  private val Jan2024Us = 1704067200L * 1000000L
  private val DayUs = 86400L * 1000000L

  /** Fresh event `j` of night `k`: the 30-day base feed replayed day by
    * day, shifted forward by whole cycles, under ids unique per night. */
  def freshEvent(k: Int, j: Int): Event = {
    val day = k % CycleNights
    val h = mix(day.toLong * EventsPerNight + j, 0x5EEDL)
    Event(k.toLong * EventsPerNight + j,
      Jan2024Us + k * DayUs + (unit(mix(h, 1)) * DayUs).toLong,
      below(mix(h, 2), 5000).toLong, EventTypes(below(mix(h, 3), 5)),
      1L + below(mix(h, 4), 50000), s"k=${below(mix(h, 5), 100)}")
  }

  /** The share of night `k`'s file that re-delivers earlier events:
    * 2–12% (an assumption; the repo's events carry no re-deliveries). */
  def lateShare(seed: Long, k: Int): Double =
    if (k == 0) 0.0 else 0.02 + 0.10 * unit(mix(mix(seed, 0x1A7EL), k))

  /** Night `k`'s file: that day's fresh events plus late re-deliveries of
    * distinct events of the previous 1–3 nights with changed values. */
  def night(seed: Long, k: Int): Seq[Event] = {
    val fresh = (0 until EventsPerNight).map(freshEvent(k, _))
    val nLate = math.round(lateShare(seed, k) * EventsPerNight).toInt
    val rng = new SplittableRandom(mix(mix(seed, 0x1A7EL), k + 1000L))
    val seen = mutable.HashSet.empty[Long]
    val late = mutable.ArrayBuffer.empty[Event]
    while (late.size < nLate) {
      val e = freshEvent(k - 1 - rng.nextInt(math.min(3, k)),
        rng.nextInt(EventsPerNight))
      val bump = 1 + rng.nextInt(1000)
      if (seen.add(e.eventId)) late += e.copy(cents = e.cents + bump)
    }
    fresh ++ late
  }

  // ---- corpus_store: documents, embeddings, the append/delete plan ----
  //
  // Sizes follow the repo's own store gates over the sf0.1 documents:
  // p08/p11 build the history over the first four fifths of the corpus
  // ids and append the last fifth, and p11's takedown (doc_id % 10 = 7)
  // removes one corpus document in eight. The sf0.1 corpus holds 7 exact
  // copies of an earlier document per 4 000 documents.

  /** Ids below this form the history the store is built from. */
  val HistoryIds = 1500L
  /** Ids `< BenchIds` with `id % 5 == 0` are the decontamination
    * benchmark; no id with `id % 5 == 0` is ever in the corpus. */
  val BenchIds = 2500L
  /** Mean id span of an append batch: a quarter of the history's, as
    * p08/p11's last fifth is to their first four fifths. */
  val MeanBatchIds: Int = (HistoryIds / 4).toInt
  /** The seed moves a batch's span by up to a fifth of the mean either
    * way (an assumption: the gates append a single batch). */
  val BatchJitterIds: Int = MeanBatchIds / 5
  /** Share of the live corpus one takedown names, as p11's. */
  val TakedownShare: Double = 1.0 / 8
  /** Share of documents that carry an earlier document's exact text, as
    * in the sf0.1 corpus. */
  val DupShare: Double = 7.0 / 4000
  val Dims = 64
  val Centers = 10

  def isCorpus(id: Long): Boolean = id % 5 != 0
  def hasEmbedding(id: Long): Boolean = id % 5 == 1 || id % 5 == 2

  private val Vocab: IndexedSeq[String] = {
    val syl = IndexedSeq("ka", "lo", "mi", "nu", "re", "sa", "ti", "vo",
      "be", "da", "fe", "gu", "ho", "ji", "pe", "zu")
    for (a <- syl; b <- syl; c <- syl.take(2)) yield a + b + c
  }

  /** The earlier document that ~6% of documents are near-copies of. */
  private def nearSource(id: Long): Option[Long] = {
    val h = mix(id, 0xD0CL)
    if (id > 0 && unit(mix(h, 1)) < 0.06)
      Some(math.max(0L, id - 1 - below(mix(h, 2), 50)))
    else None
  }

  /** Document text before planted duplicates: mostly random prose; some
    * near-copies of an earlier document (~10% of words replaced), some
    * too short or too numeric to pass the quality stage. */
  def baseText(id: Long): String = {
    val h = mix(id, 0xD0CL)
    nearSource(id).map { src =>
      baseText(src).split(' ').zipWithIndex.map { case (w, i) =>
        if (unit(mix(h, 100L + i)) < 0.1) Vocab(below(mix(h, 1000L + i), Vocab.size))
        else w
      }.mkString(" ")
    }.getOrElse {
      val n = 40 + below(mix(h, 3), 100)
      val numeric = unit(mix(h, 1)) > 0.96
      (0 until n).map { i =>
        val g = mix(h, 10L + i)
        if (numeric && below(g, 3) == 0) below(mix(g, 1), 100000).toString
        else Vocab(below(g, Vocab.size))
      }.mkString(" ")
    }
  }

  /** The earlier corpus document whose exact text corpus document `id`
    * carries under this seed, if it is a planted duplicate. */
  def plantedSource(seed: Long, id: Long): Option[Long] = {
    val h = mix(mix(seed, 0xD0BL), id)
    if (id < 2 || !isCorpus(id) || unit(h) >= DupShare) None
    else {
      val r = 1 + below(mix(h, 1), (id - 1).toInt)
      Some(if (isCorpus(r)) r.toLong else r - 1L)
    }
  }

  /** Embedding of document `id`: a noisy draw around one of [[Centers]]
    * cluster centers; a near-copy document's vector stays close to its
    * source's, so the semantic stage has duplicates to find. */
  def embedding(id: Long): Array[Float] = {
    val h = mix(id, 0xE3BL)
    nearSource(id).map { src =>
      embedding(src).zipWithIndex.map { case (v, d) =>
        (v + 0.1 * (unit(mix(h, d.toLong)) - 0.5)).toFloat
      }
    }.getOrElse {
      val c = below(mix(h, 1), Centers)
      Array.tabulate(Dims) { d =>
        (2 * unit(mix(c.toLong, 100L + d)) - 1 +
          4 * (unit(mix(h, 200L + d)) - 0.5)).toFloat
      }
    }
  }

  /** One store night: an append batch of `ids` (ascending), then a
    * takedown of `victims`, which removes `family` — the victims plus
    * every live document with identical text, as the store expands it. */
  final case class Cycle(ids: Seq[Long], victims: Seq[Long],
      family: Set[Long])

  final class CorpusPlan(seed: Long, nCycles: Int) {
    private val texts = mutable.HashMap.empty[Long, String]

    def text(id: Long): String = texts.synchronized {
      texts.get(id) match {
        case Some(t) => t
        case None =>
          val t = plantedSource(seed, id).map(text).getOrElse(baseText(id))
          texts(id) = t
          t
      }
    }

    val historyIds: Seq[Long] = (0L until HistoryIds).filter(isCorpus)
    val benchIds: Seq[Long] = (0L until BenchIds).filterNot(isCorpus)

    /** The seeded schedule: batch spans of [[MeanBatchIds]] ±
      * [[BatchJitterIds]] ids, and each takedown's victims, drawn
      * uniformly without replacement from the live corpus. */
    val cycles: IndexedSeq[Cycle] = {
      val rng = new SplittableRandom(mix(seed, 0xC0L))
      val live = mutable.LinkedHashSet.empty[Long] ++= historyIds
      var next = HistoryIds
      (0 until nCycles).map { _ =>
        val span = MeanBatchIds - BatchJitterIds +
          rng.nextInt(2 * BatchJitterIds + 1)
        val ids = (next until next + span).filter(isCorpus)
        next += span
        live ++= ids
        val pool = live.toArray
        val n = math.round(pool.length * TakedownShare).toInt
        // Partial Fisher-Yates: the first n slots become the victims.
        (0 until n).foreach { i =>
          val j = i + rng.nextInt(pool.length - i)
          val t = pool(i); pool(i) = pool(j); pool(j) = t
        }
        val victims = pool.take(n).toSeq.sorted
        val victimTexts = victims.map(text).toSet
        val family = live.filter(id => victimTexts(text(id))).toSet
        live --= family
        Cycle(ids, victims, family)
      }
    }

    /** Every document a run of `n` cycles removes. */
    def removed(n: Int): Set[Long] = cycles.take(n).flatMap(_.family).toSet
  }

  def corpusPlan(seed: Long, nCycles: Int): CorpusPlan =
    new CorpusPlan(seed, nCycles)
}
