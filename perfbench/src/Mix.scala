package perfbench

import org.apache.spark.sql.DataFrame

import graft.corpus.PagesCorpus
import graft.index.BuiltIndex
import graft.query.{BatchQuery, Bm25Query, Hit, LineHit, RegexQuery}

/** A pinned index as the query paths take it. */
final case class Live(idx: BuiltIndex, pages: DataFrame, rank: DataFrame)

/** One single query of the mix: its class, how to run it through the
  * program's public API, and how to check the answer against the oracle.
  * `batch` is its searchBlocksBatchEx form when the class has one; `hosts`
  * are the docs a needle query must find.
  */
final case class Query(cls: String, label: String, text: String, run: Live => AnyRef,
    check: (Oracle, AnyRef) => Option[String], batch: Option[BatchQuery],
    hosts: Set[Long] = Set.empty)

/** The seeded query mix. Classes: top-k (needle, head term, 2-3-term AND,
  * OR), url-glob filtered, static-rank boosted, lines and regex. Terms are
  * drawn by vocabulary rank so every seed gives the same class make-up and
  * comparable posting-list lengths.
  */
object Mix {
  val K = 10
  /** k of the regex class, QueryBench's. */
  val RegexK = 100

  /** Seeded static-rank table over docs [0, n): a quarter of the docs get
    * a boost in {1.0, 1.25, ..., 2.75}; the rest default to 1.0.
    */
  def rankOf(seed: Long, n: Long): Map[Long, Double] = {
    val r = new java.util.SplittableRandom(seed * 0x9e3779b97f4a7c15L + 7)
    (0L until n).flatMap { d =>
      val x = r.nextInt(32)
      if (x < 8) Some(d -> (1.0 + x * 0.25)) else None
    }.toMap
  }

  private def collectHits(ds: org.apache.spark.sql.Dataset[Hit]): AnyRef =
    ds.collect().toVector

  private def hitsOf(x: AnyRef): Seq[Hit] = x.asInstanceOf[Vector[Hit]]

  def topk(label: String, q: String, conj: Boolean, k: Int = K,
      hosts: Set[Long] = Set.empty): Query =
    Query("topk", label, q,
      l => collectHits(Bm25Query.searchBlocks(l.idx, q, k, conj)),
      (o, x) => Checks.hits(label, o, hitsOf(x), o.topK(q, k, conj))
        .orElse(if (hosts.isEmpty) None else Checks.needle(label, hosts, hitsOf(x))),
      Some(BatchQuery(q, conj)), hosts)

  /** Needle i of the generator: its hosts in an n-doc corpus come from the
    * generator manifest (PagesCorpus.needleDocs), safety-gate rows left out.
    */
  def needle(label: String, i: Int, n: Long): Query =
    topk(label, PagesCorpus.needleTerm(i), conj = true,
      hosts = PagesCorpus.needleDocs(i, n).map(_._1)
        .filterNot(PagesCorpus.isSafetyRow).toSet)

  def filtered(label: String, q: String, include: Seq[String],
      exclude: Seq[String], allow: String => Boolean): Query =
    Query("filtered", label, q,
      l => collectHits(Bm25Query.searchBlocks(l.idx, q, K, true, include, exclude)),
      (o, x) => Checks.hits(label, o, hitsOf(x),
        o.topK(q, K, allow = d => allow(o.url(d)))),
      Some(BatchQuery(q, include = include, exclude = exclude)))

  def boosted(label: String, q: String, rank: Map[Long, Double]): Query =
    Query("boosted", label, q,
      l => collectHits(Bm25Query.searchBlocksBoosted(l.idx, q, K, l.rank)),
      (o, x) => Checks.hits(label, o, hitsOf(x),
        o.topK(q, K, boost = d => rank.getOrElse(d, 1.0))),
      Some(BatchQuery(q, boosted = true)))

  def lines(label: String, q: String): Query =
    Query("lines", label, q,
      l => Bm25Query.searchWithLines(l.idx, l.pages, q, K).collect().toVector,
      (o, x) => Checks.lines(label, o, q, x.asInstanceOf[Vector[LineHit]],
        o.topK(q, K)),
      None)

  def regex(label: String, pattern: String,
      literals: Option[String], k: Int = RegexK): Query =
    Query("regex", label, pattern,
      l => collectHits(RegexQuery.search(l.idx, l.pages, pattern, k)),
      (o, x) => Checks.hits(label, o, hitsOf(x), o.regex(pattern, k, literals)),
      None)

  /** `count` distinct needle ids whose generator-manifest hosts in an
    * n-doc corpus include at least one indexed (non safety-gate) doc.
    */
  def needleIds(r: java.util.SplittableRandom, n: Long, count: Int): Seq[Int] = {
    val ids = (0 until PagesCorpus.NeedleCount).filter(i =>
      PagesCorpus.needleDocs(i, n).exists(d => !PagesCorpus.isSafetyRow(d._1))).toBuffer
    (1 to count).map(_ => ids.remove(r.nextInt(ids.size)))
  }

  /** The 14-query round every workload serves from. Its make-up is the
    * reference validator's load-test mix (fast_code_search_validator.rs
    * 706-768, reproduced in-repo by graft.QueryBench and FIXTURES.md §3):
    * 10 needle, 5 head, 10 conjunctive, 5 disjunctive, 3 filtered, 3
    * regex and 3 lines queries, scaled by 1/3 and rounded to 3 needle, 2
    * head, 3 conjunctive (FIXTURES: two- or three-term), 2 disjunctive, 1
    * filtered, 1 regex and 1 lines. The single-query mix has no boosted
    * class; one boosted query is added, the share QueryBench's mixed batch
    * gives it (2 of 30). Terms come from QueryBench's vocabulary-rank bands,
    * drawn by `seed`, and k is QueryBench's.
    */
  def round(seed: Long, n: Long, rank: Map[Long, Double]): Vector[Query] = {
    val r = new java.util.SplittableRandom(seed ^ 0x51ab1eL)
    def w(lo: Int, hi: Int) = PagesCorpus.vocab(lo + r.nextInt(hi - lo))
    val d = r.nextInt(10)
    val needles = needleIds(r, n, 3).zipWithIndex.map { case (id, i) =>
      needle(s"needle-$i", id, n) }
    val h = r.nextInt(5)
    needles.toVector ++ Vector(
      topk("head-0", PagesCorpus.vocab(h), conj = true),
      topk("head-1", PagesCorpus.vocab((h + 1 + r.nextInt(4)) % 5), conj = true),
      topk("and2-0", s"${w(3, 13)} ${w(40, 110)}", conj = true),
      topk("and2-1", s"${w(3, 13)} ${w(40, 110)}", conj = true),
      topk("and3", s"${w(3, 13)} ${w(40, 110)} ${w(40, 110)}", conj = true),
      topk("or2-0", s"${w(20, 25)} ${w(100, 105)}", conj = false),
      topk("or2-1", s"${w(20, 25)} ${w(100, 105)}", conj = false),
      filtered("filtered", s"${w(5, 8)} ${w(60, 63)}",
        Seq(s"https://site-0$d*.example/**"), Nil,
        _.startsWith(s"https://site-0$d")),
      boosted("boosted", w(9, 11), rank),
      lines("lines", w(30, 33)),
      regex("regex", s"${w(8, 11)}\\s+\\w+", None))
  }
}
