package perfbench

import java.util.regex.Pattern

import graft.index.{Bm25, IndexStats}
import graft.oracle.Bm25Oracle
import graft.query.{Hit, LineHit}
import graft.tokenize.Tokenizer

/** The answers the engine must give on a view of the corpus, computed
  * apart from it: single-node BM25 over Bm25Oracle's corpus statistics,
  * regexes through java.util.regex, url filters as plain string tests,
  * needles from the generator manifest. `docs` maps each indexed doc_id to
  * (url, text) — the expected extracted text, safety-gate rows left out.
  *
  * idf is Robertson's with StrictMath.log, the bit-reproducible log that
  * Spark SQL's `log` (and so the engine's dictionary, Bm25.idfCol) is
  * specified with. Bm25Oracle's own idf uses Math.log, which differs from
  * it by one ulp for some df values, so its scores are not used directly.
  */
final class Oracle(val docs: Map[Long, (String, String)]) {
  val bm25: Bm25Oracle.Corpus = Bm25Oracle(docs.iterator.map {
    case (id, (_, t)) => id -> t }.toSeq)

  def stats: IndexStats = IndexStats(bm25.numDocs, bm25.totalTokens,
    bm25.avgdl, bm25.df.size.toLong, bm25.tf.valuesIterator.map(_.size.toLong).sum)

  def idfOf(df: Long): Double =
    StrictMath.log((bm25.numDocs - df + 0.5) / (df + 0.5) + 1.0)

  /** Every doc the query matches with its BM25 score, before any top-k
    * cut — the tokens, matching rules and summation order (ascending
    * term_id) of Bm25Oracle.search.
    */
  def scoreAll(query: String, conj: Boolean): Vector[(Long, Double)] = {
    val q = Tokenizer.tokenize(query).distinct
    val resolved = q.filter(bm25.df.contains)
    if (resolved.isEmpty || (conj && resolved.size != q.size)) return Vector.empty
    val sorted = resolved.sortBy(Bm25.termId)
    val idf = sorted.map(t => idfOf(bm25.df(t)))
    bm25.tf.iterator.flatMap { case (id, tfs) =>
      val present = sorted.indices.filter(i => tfs.contains(sorted(i)))
      if (present.isEmpty || (conj && present.size != sorted.size)) None
      else {
        var s = 0.0
        present.foreach { i => s += Bm25.impact(tfs(sorted(i)).toDouble,
          bm25.docLen(id).toDouble, bm25.avgdl, idf(i)) }
        Some(id -> s)
      }
    }.toVector
  }

  /** Top-k with the frozen order (score DESC, doc_id ASC); `allow` applies
    * before the cut and the final score is bm25 x boost(doc).
    */
  def topK(query: String, k: Int, conj: Boolean = true,
      allow: Long => Boolean = _ => true,
      boost: Long => Double = _ => 1.0): Vector[(Long, Double)] =
    scoreAll(query, conj).filter(x => allow(x._1))
      .map { case (d, s) => (d, s * boost(d)) }
      .sortBy { case (d, s) => (-s, d) }.take(k)

  /** Regex answer in RegexQuery.search's documented order: when every
    * literal of the pattern is a whole token (`literals` given), BM25 of
    * those tokens over the matching docs; otherwise score 0.0 in doc_id
    * order.
    */
  def regex(pattern: String, k: Int,
      literals: Option[String]): Vector[(Long, Double)] = {
    val rx = Pattern.compile("(?is)" + pattern)
    val matching = docs.iterator.filter(d => rx.matcher(d._2._2).find())
      .map(_._1).toSet
    literals match {
      case Some(l) => scoreAll(l, conj = true).filter(x => matching(x._1))
        .sortBy { case (d, s) => (-s, d) }.take(k)
      case None => matching.toVector.sorted.take(k).map(_ -> 0.0)
    }
  }

  def url(doc: Long): String = docs(doc)._1
}

object Checks {

  /** None when `hits` is exactly `want` (doc ids, scores with ==, ranks
    * 1..n, urls); otherwise what differs.
    */
  def hits(label: String, o: Oracle, got: Seq[Hit],
      want: Vector[(Long, Double)]): Option[String] = {
    val g = got.map(h => (h.doc_id, h.score)).toVector
    if (g != want) Some(s"$label: got ${g.take(5)} want ${want.take(5)} " +
      s"(${g.size} vs ${want.size} hits)")
    else if (got.map(_.rank) != (1 to got.size))
      Some(s"$label: ranks ${got.map(_.rank).take(5)}")
    else got.find(h => h.url != o.url(h.doc_id))
      .map(h => s"$label: doc ${h.doc_id} url ${h.url}")
  }

  /** Every host doc of a needle is found. */
  def needle(label: String, hosts: Set[Long], got: Seq[Hit]): Option[String] = {
    val g = got.map(_.doc_id).toSet
    if (hosts.subsetOf(g)) None
    else Some(s"$label: needle hosts ${hosts.toSeq.sorted} not all in ${g.toSeq.sorted}")
  }

  /** Line hits: the hit docs, ranks and scores are the oracle's top-k, and
    * each record's [match_start, match_end) span of its line is a query
    * term, with at most Bm25Query.MaxMatchesPerDoc records per doc.
    */
  def lines(label: String, o: Oracle, query: String, got: Seq[LineHit],
      want: Vector[(Long, Double)]): Option[String] = {
    val terms = Tokenizer.tokenize(query).distinct.toSet
    val docsGot = got.map(h => (h.doc_id, h.score, h.rank)).distinct.sortBy(_._3)
    val docsWant = want.zipWithIndex.map { case ((d, s), i) => (d, s, i + 1) }
    if (docsGot != docsWant)
      return Some(s"$label: docs ${docsGot.take(5)} want ${docsWant.take(5)}")
    if (got.groupBy(_.doc_id).exists(_._2.size > graft.query.Bm25Query.MaxMatchesPerDoc))
      return Some(s"$label: more than MaxMatchesPerDoc lines for a doc")
    got.find { h =>
      val ls = o.docs(h.doc_id)._2.split("\n", -1)
      h.line_number < 1 || h.line_number > ls.length || {
        val line = ls(h.line_number - 1).toLowerCase(java.util.Locale.ROOT)
        h.match_start < 1 || h.match_end > line.length + 1 ||
        h.match_end <= h.match_start ||
        !terms(line.substring(h.match_start - 1, h.match_end - 1))
      }
    }.map(h => s"$label: doc ${h.doc_id} line ${h.line_number} " +
      s"[${h.match_start},${h.match_end}) holds no query term")
  }

  def stats(got: IndexStats, want: IndexStats): Option[String] =
    if (got == want) None else Some(s"index stats $got want $want")
}
