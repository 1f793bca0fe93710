package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable

/** What the cleaner and the enricher must make of one raw day. */
final case class DayExpect(day: Int, date: LocalDate, rawRows: Int, bronzeRows: Int,
    rejectedRows: Int, freshLinks: Seq[String])

/** Seeded generator of the daily raw headline CSV. A day holds
  * `fresh` newly minted headlines (a tenth of them with relative
  * links), re-scrapes of earlier links, and rows the cleaner must
  * drop: titles under 15 characters, a second row for an existing
  * link whose title sorts later, and a second row for an existing
  * title whose link sorts later. Titles come from `documents.text`.
  * The output is a pure function of the seed, the texts and the day
  * index; the generator keeps the bookkeeping the checks compare to.
  */
final class DayGen(texts: IndexedSeq[String], seed: Long, fresh: Int = 360,
    rescraped: Int = 180, dropped: Int = 20) {
  val epoch: LocalDate = LocalDate.of(2025, 1, 1)
  private val minted = mutable.ArrayBuffer.empty[(String, String)]
  private var next = 0

  def mintedLinks: Seq[String] = minted.map(_._1).toSeq

  private def title(rng: SplittableRandom, tag: String): String = {
    val words = texts(rng.nextInt(texts.length)).replaceAll("[\",\\\\\r\n]", " ")
      .trim.split("\\s+")
    val take = 6 + rng.nextInt(8)
    (words.take(take).mkString(" ") + " " + tag).capitalize
  }

  /** The CSV bytes of day `d` (days must be drawn in order). */
  def day(d: Int): (Array[Byte], DayExpect) = {
    require(d == next, s"day $d drawn out of order (next is $next)")
    next += 1
    val rng = new SplittableRandom(seed * 1000003L + d)
    val date = epoch.plusDays(d)
    val rows = mutable.ArrayBuffer.empty[(String, String)]
    val freshRows = (0 until fresh).map { i =>
      val path = s"/noticia/d$d/n$i.ghtml"
      val abs = "https://g1.globo.com" + path
      val t = title(rng, s"d${d}n$i")
      rows += ((t, if (i % 10 == 0) path else abs))
      (abs, t)
    }
    val rescrapes = if (minted.isEmpty) Nil
      else (0 until rescraped).map(_ => minted(rng.nextInt(minted.length))).distinct
    rows ++= rescrapes.map { case (l, t) => (t, l) }
    for (i <- 0 until dropped) {
      rows += ((s"Curta d$d $i", s"https://g1.globo.com/curta/d$d/n$i.ghtml"))
      val (l1, t1) = freshRows(rng.nextInt(fresh))
      rows += ((t1 + " - atualizado", l1))
      val (l2, t2) = freshRows((rng.nextInt(fresh) + fresh / 2) % fresh)
      rows += ((t2, l2 + "-v2"))
    }
    val shuffled = rows.toArray
    for (i <- shuffled.indices.reverse) {
      val j = rng.nextInt(i + 1)
      val x = shuffled(i); shuffled(i) = shuffled(j); shuffled(j) = x
    }
    val sb = new StringBuilder("title,link,source,scraped_at\n")
    shuffled.zipWithIndex.foreach { case ((t, l), i) =>
      sb.append(t).append(',').append(l).append(",G1,")
        .append(date).append(f"T06:${i / 60 % 60}%02d:${i % 60}%02d\n")
    }
    minted ++= freshRows
    val bronze = fresh + rescrapes.size
    (sb.toString.getBytes(UTF_8),
      DayExpect(d, date, shuffled.length, bronze, shuffled.length - bronze, freshRows.map(_._1)))
  }
}
