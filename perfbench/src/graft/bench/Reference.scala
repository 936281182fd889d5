package graft.bench

import scala.collection.mutable.ArrayBuffer

/** Expected search answers over the stored corpus: the base docs plus the
  * first `j` ingested batches, from postings kept in the benchmark's own
  * memory. A request that overlapped ingest may see any state between the
  * batches completed before it started (`j0`) and the batches begun
  * before it ended (`j1`); its page must equal the answer of one of them. */
final class Reference(base: Postings) {
  import Inputs._

  private val batches = ArrayBuffer.empty[Postings]

  def add(batch: Postings): Unit = synchronized { batches += batch }

  private def visible(j: Int): Seq[Postings] = synchronized { base +: batches.take(j).toSeq }

  /** Doc ids of a membership or OR request, ascending. */
  def ids(req: Request, j: Int): Array[Long] = {
    val ps = visible(j)
    req.kws.flatMap(k => ps.flatMap(_.ids(k))).distinct.sorted.toArray
  }

  /** The BM25 page `ArticleOps.searchBm25` returns over state `j`: the
    * same expression tree over the same exact integer inputs, evaluated
    * in the same order, so scores agree bit for bit. */
  def ranked(kws: Seq[String], j: Int): Page = {
    val ps = visible(j)
    val n = ps.map(_.n).sum.toDouble
    val tot = ps.map(_.tokens).sum.toDouble
    val scores = scala.collection.mutable.HashMap.empty[Long, Long]
    kws.map(_.toLowerCase).distinct.foreach { k =>
      val df = ps.map(_.df(k)).sum.toDouble
      ps.foreach { p =>
        p.ids(k).zip(p.tfs(k)).foreach { case (id, tf0) =>
          val tf = tf0.toDouble
          val dl = p.docLen(id).toDouble
          val part = math.floor(1000000.0 * ((n - df + 0.5) / (df + 0.5)) *
            ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / (tot / n)))))).toLong
          scores(id) = scores.getOrElse(id, 0L) + part
        }
      }
    }
    val order = scores.toSeq.sortBy { case (id, s) => (-s, id) }
    Page(order.map(_._1).toArray, order.map(_._2).toArray)
  }

  def check(req: Request, page: Page, j0: Int, j1: Int): Option[String] = {
    val ok = (j0 to j1).exists { j =>
      if (req.kind == Ranked) {
        val want = ranked(req.kws, j)
        want.ids.sameElements(page.ids) && want.scores.sameElements(page.scores)
      } else ids(req, j).sameElements(page.ids)
    }
    if (ok) None
    else Some(s"${req.kind} ${req.kws.mkString(",")}: ${page.ids.length} rows match no corpus state in [$j0, $j1]")
  }
}
