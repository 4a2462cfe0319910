package graft.perfbench

import graft.core.{Bm25, LenByte, Oracle}
import graft.corpus.CorpusGen
import graft.query.{BoolQuery, LocalService, QueryLog}
import graft.query.QueryLog.LogQuery

/** A query: its log line (the `data/queries.log` syntax), the parsed form,
  * and its family. */
final case class Q(line: String, q: LogQuery, family: String)

/** The seeded query stream and the oracle that checks every answer. */
object Queries {

  /** The code-analyzer families of `data/queries.log`, in a fixed order. */
  val Families: Seq[String] = Seq("term", "phrase", "slop", "not", "boost", "prefix",
    "fuzzy", "wildcard", "bool")

  /** The family of a parsed log line. */
  def familyOf(q: LogQuery): String =
    if (q.bool.nonEmpty) "bool"
    else if (q.prefix.nonEmpty) "prefix"
    else if (q.fuzzy.nonEmpty) "fuzzy"
    else if (q.wildcard.nonEmpty) "wildcard"
    else if (q.phrase) (if (q.slop > 0) "slop" else "phrase")
    else if (q.exclude.nonEmpty) "not"
    else if (q.boosts.nonEmpty) "boost"
    else "term"

  /** The code-analyzer lines of the query log at `path` (`data/queries.log`,
    * the repo's record of query traffic, so every family keeps its logged
    * weight), parsed by `QueryLog.load`, in an order drawn from `seed`. The
    * `text:` lines need a text-analyzer index and are left out. */
  def stream(path: String, seed: Long): Seq[Q] = {
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path))
    val qs = QueryLog.load(path).filterNot(_.analyzeText)
      .map(q => Q(lines.get(q.id).trim, q, familyOf(q)))
    require(Families.forall(f => qs.exists(_.family == f)), s"$path lacks a code family")
    new scala.util.Random(seed).shuffle(qs)
  }

  /** Docs of a corpus slice with the index's docIds: rank over the unique
    * key (repo, path), offset by `base`. Uniqueness is asserted, so a tie
    * can never reorder the oracle against the engine. */
  def rankedDocs(rows: Seq[(String, String, String)], base: Int): Seq[Oracle.Doc] = {
    val sorted = rows.sortBy(r => (r._1, r._2))
    sorted.iterator.sliding(2).foreach { w =>
      if (w.size == 2) require((w(0)._1, w(0)._2) != (w(1)._1, w(1)._2),
        s"duplicate (repo, path) key ${w(0)._1}/${w(0)._2}")
    }
    sorted.zipWithIndex.map { case (r, i) => Oracle.Doc(base + i, r._3) }
  }

  /** (repo, path, content) of docs `from until until` of a seeded corpus,
    * generated on `threads` threads. */
  def corpusRows(seed: Long, from: Long, until: Long, threads: Int): IndexedSeq[(String, String, String)] = {
    val n = (until - from).toInt
    val out = new Array[(String, String, String)](n)
    val ts = (0 until threads).map { t =>
      new Thread(() => {
        var i = t
        while (i < n) {
          val r = CorpusGen.row(seed, from + i)
          out(i) = (r._1, r._2, r._5)
          i += threads
        }
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    out.toIndexedSeq
  }

  /** Expansion of a multi-term query over the oracle dictionary: matching
    * terms by (df desc, term asc), capped — the engine's documented rule. */
  private def expand(orc: Oracle.Index, cap: Int)(p: String => Boolean): Seq[String] =
    orc.postings.keysIterator.filter(p).toSeq
      .sortBy(t => (-orc.df(t), t)).take(cap)

  private def levenshtein(a: String, b: String): Int = {
    val prev = Array.tabulate(b.length + 1)(identity)
    val cur = new Array[Int](b.length + 1)
    a.indices.foreach { i =>
      cur(0) = i + 1
      b.indices.foreach { j =>
        cur(j + 1) = math.min(math.min(cur(j), prev(j + 1)) + 1,
          prev(j) + (if (a(i) == b(j)) 0 else 1))
      }
      Array.copy(cur, 0, prev, 0, cur.length)
    }
    prev(b.length)
  }

  private def globRegex(g: String): scala.util.matching.Regex =
    g.map {
      case '*' => ".*"
      case '?' => "."
      case c   => java.util.regex.Pattern.quote(c.toString)
    }.mkString.r

  /** Terms of a prefix/fuzzy/wildcard query at the given caps. */
  private def expansion(orc: Oracle.Index, q: LogQuery, prefixCap: Int, fuzzyCap: Int,
                wildcardCap: Int): Seq[String] =
    (q.prefix, q.fuzzy, q.wildcard) match {
      case (Some(p), _, _) => expand(orc, prefixCap)(_.startsWith(p))
      case (_, Some((t, d)), _) =>
        expand(orc, fuzzyCap)(w => math.abs(w.length - t.length) <= d && levenshtein(w, t) <= d)
      case (_, _, Some(g)) =>
        val re = globRegex(g)
        expand(orc, wildcardCap)(re.matches)
      case _ => q.terms
    }

  /** Expected top-k of one query. Expansion caps are the serving path's
    * (`LocalService`: prefix 64, fuzzy 16, wildcard 64) unless `batchCaps`
    * (`QueryLog.resolve`: 64 for all three). */
  def expected(orc: Oracle.Index, q: LogQuery, k: Int, batchCaps: Boolean): Seq[Oracle.Hit] =
    if (q.bool.nonEmpty) boolTopK(orc, q.bool.get, k)
    else if (q.disjunctive)
      Oracle.searchOr(orc, expansion(orc, q, 64, if (batchCaps) 64 else 16, 64), k)
    else Oracle.search(orc, q.terms, k, q.phrase, q.exclude, q.slop, q.boosts)

  /** Nested boolean top-k: candidates are the positive leaves' docs; match
    * and clause-aware score by the program's shared boolean evaluator. */
  private def boolTopK(orc: Oracle.Index, root0: BoolQuery.Node, k: Int): Seq[Oracle.Hit] = {
    val root = BoolQuery.foldForEval(root0, orc.postings.contains).getOrElse(return Nil)
    val (pos, _) = BoolQuery.leafTerms(root)
    val tf: Map[String, Map[Int, Int]] =
      BoolQuery.leafTerms(root) match {
        case (p, n) => (p ++ n).distinct.map(t =>
          t -> orc.postings.getOrElse(t, Array.empty[(Int, Int, Array[Int])])
            .iterator.map(e => e._1 -> e._2).toMap).toMap
      }
    val idf = pos.map(t => t -> Bm25.idf(orc.nDocs, orc.df(t))).toMap
    val cand = pos.flatMap(t => tf(t).keys).distinct.sorted
    val hits = cand.flatMap { d =>
      val lb = LenByte.encode(orc.docLen(d).toLong)
      val (m, s) = BoolQuery.evalAndScore(root, t => tf.get(t).exists(_.contains(d)),
        // negated leaves are evaluated for presence only: no partial
        t => idf.get(t).fold(0.0)(_ * Bm25.tfNormLossy(tf(t)(d).toLong, lb, orc.lossyCache)))
      if (m) Some(Oracle.Hit(d, s)) else None
    }
    Oracle.topK(hits, k)
  }

  /** None when `got` equals `want` (docId exact, score within 0.001), else
    * a line naming the query and its first diverging rank. */
  def mismatch(line: String, got: Seq[Oracle.Hit], want: Seq[Oracle.Hit]): Option[String] = {
    val g = got.map(h => (h.docId, h.score))
    val w = want.map(h => (h.docId, h.score))
    g.zipAll(w, (-1, Double.NaN), (-1, Double.NaN)).zipWithIndex.collectFirst {
      case (((gd, gs), (wd, ws)), r) if gd != wd || !(math.abs(gs - ws) <= 0.001) =>
        s"query [$line] rank ${r + 1}: engine=($gd, $gs) oracle=($wd, $ws)"
    }
  }

  /** Serve one query on the resident path — the families' entry points. */
  def serve(svc: LocalService, q: LogQuery, k: Int): Seq[Oracle.Hit] =
    (q.prefix, q.fuzzy, q.wildcard, q.bool) match {
      case (Some(p), _, _, _)      => svc.searchPrefix(p, k)
      case (_, Some((t, d)), _, _) => svc.searchFuzzy(t, k, d)
      case (_, _, Some(w), _)      => svc.searchWildcard(w, k)
      case (_, _, _, Some(b))      => svc.searchBool(b, k)
      case _ => svc.search(q.terms, k, q.phrase, q.exclude, q.slop, boosts = q.boosts)
    }
}
